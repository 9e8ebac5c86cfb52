"""Deduplication operators for large-scale training-data pipelines.

The reference has no dedup (its state store is last-write-wins per key, which
*is* exact dedup by key — /root/reference/map.go:37-48); these operators
generalize that to content-based dedup at corpus scale:

- exact dedup: hash-groupBy on a normalized content digest;
- MinHash + LSH banding: near-dup candidate pairs without O(n^2) compare;
- SimHash: 64-bit locality-sensitive fingerprint;
- n-gram / token-set Jaccard: verification metric (oracle-checkable form
  uses token sets; shingled n-grams feed MinHash).

Scale notes:
- exact dedup is one map-side-combinable groupBy on a 16-byte digest — the
  shuffle carries digests, not documents;
- MinHash/LSH shuffles each doc b times (one row per band) keyed by
  (band, band-signature); bucket sizes are the skew risk, so oversized
  buckets are capped (documented in the function);
- all hashing uses xxhash64/md5 with fixed seeds — deterministic across
  runs, executors, and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kasper_spark.catalog import load_table
from kasper_spark.functions.thresholds import (
    corpus_relative_thr,
    corpus_relative_thr_sql,
)
from kasper_spark.lineage import cut_lineage
from kasper_spark.registry import register_query

# MinHash/LSH parameters: 32 hashes = 8 bands x 4 rows. With the standard
# S-curve, pair-collision prob at jaccard 0.5 is 1-(1-0.5^4)^8 ≈ 0.40, at
# 0.8 ≈ 0.98 — tuned for "near-dup" detection.
_NUM_HASHES = 32
_BANDS = 8
_ROWS_PER_BAND = _NUM_HASHES // _BANDS
_SHINGLE_N = 3
_MAX_BUCKET = 50  # cap pathological LSH buckets (skew guard at scale)


def _tokens(col):
    return F.filter(F.split(col, " "), lambda w: w != "")


def _shingles_raw(tokens_col):
    """Word-level n-gram shingles as strings, NOT deduplicated — apply
    array_distinct at the consumption site (see minhash_lsh_candidates for
    why splitting the expression this way matters for the physical plan).

    Documents with fewer than n tokens yield an EMPTY array: without the
    guard, sequence(0, size-n) with size<n produces a DESCENDING index list
    and element_at hits index 0 / out-of-range — an ANSI INVALID_ARRAY_INDEX
    crash that would kill the whole job on one short document."""
    n = _SHINGLE_N
    idx = F.sequence(F.lit(0), F.size(tokens_col) - n)
    return F.when(
        F.size(tokens_col) >= n,
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(tokens_col, i + k + 1) for k in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


@register_query(
    "dedup_exact",
    oracle="""
    SELECT
        md5(lower(trim(text))) AS content_hash,
        MIN(doc_id) AS keeper_doc_id,
        COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(lower(trim(text)))
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content digest: one deterministic keeper per distinct
    normalized text. groupBy(min) rather than dropDuplicates so the survivor
    is deterministic (dropDuplicates keeps an arbitrary row).

    At 100 TB: the shuffle key is the 32-hex digest, so shuffle volume is
    ~48 bytes/doc regardless of document size; digest computation is
    JVM-side (no Python).
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.md5(F.lower(F.trim(F.col("text"))).cast("binary")).alias("content_hash"),
            "doc_id",
        )
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@register_query(
    "tokenset_jaccard_pairs",
    oracle="""
    WITH sets AS (
        SELECT doc_id, list_distinct(list_filter(string_split(text, ' '), w -> w <> '')) AS ws
        FROM documents
        WHERE doc_id < 40
    )
    SELECT
        a.doc_id AS doc_a,
        b.doc_id AS doc_b,
        len(list_filter(a.ws, w -> list_contains(b.ws, w))) AS n_common,
        CAST(len(list_filter(a.ws, w -> list_contains(b.ws, w))) AS DOUBLE)
            / (len(a.ws) + len(b.ws) - len(list_filter(a.ws, w -> list_contains(b.ws, w)))) AS jaccard
    FROM sets a JOIN sets b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_filter(a.ws, w -> list_contains(b.ws, w))) AS DOUBLE)
            / (len(a.ws) + len(b.ws) - len(list_filter(a.ws, w -> list_contains(b.ws, w)))) >= 0.5
    """,
)
def tokenset_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard similarity on a bounded candidate subset — the
    verification metric used downstream of MinHash candidates. Jaccard is an
    int/int ratio, so the double result is engine-exact.

    This bounded all-pairs form is the oracle-checkable twin; at scale the
    candidate pairs come from minhash_lsh_candidates instead of a cross join.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    sets = docs.select(
        "doc_id", F.array_distinct(_tokens(F.col("text"))).alias("ws")
    )
    a = sets.alias("a")
    b = sets.alias("b")
    inter = F.size(F.array_intersect(F.col("a.ws"), F.col("b.ws")))
    union = F.size(F.col("a.ws")) + F.size(F.col("b.ws")) - inter
    jac = inter.cast("double") / union
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            inter.alias("n_common"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


# --- shared bounded Jaccard demo graph (iterative/motif family) ----------
# ONE definition for the graph that pagerank / label propagation /
# connected components / triangle counting all analyze — a drift in the
# threshold, tokenization, or bound would otherwise have to be fixed in
# four Python copies plus four oracle CTEs.

_JACCARD_GRAPH_CTE = """sets AS (
        SELECT doc_id, list_distinct(list_filter(string_split(text, ' '), w -> w <> '')) AS ws
        FROM documents
        WHERE doc_id < 40
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sets a JOIN sets b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_filter(a.ws, w -> list_contains(b.ws, w))) AS DOUBLE)
                / (len(a.ws) + len(b.ws) - len(list_filter(a.ws, w -> list_contains(b.ws, w)))) >= 0.5
    )"""


def _bounded_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b) edges of the bounded (doc_id < 40) token-set Jaccard
    graph at threshold 0.5 — the Python twin of _JACCARD_GRAPH_CTE."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    sets = docs.select(
        "doc_id", F.array_distinct(_tokens(F.col("text"))).alias("ws")
    )
    a, b = sets.alias("a"), sets.alias("b")
    inter = F.size(F.array_intersect(F.col("a.ws"), F.col("b.ws")))
    union = F.size(F.col("a.ws")) + F.size(F.col("b.ws")) - inter
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(inter.cast("double") / union >= 0.5)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )


@register_query("minhash_lsh_candidates")  # rows-only: not SQL-expressible
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup candidates (no O(n^2) compare).

    Pipeline (all JVM-side, no Python UDFs):
      shingle (word 3-grams) -> 32 minhashes via xxhash64(seed, shingle)
      -> 8 bands x 4 rows -> explode one row per band
      -> groupBy (band, signature) -> intra-bucket pairs -> distinct pair
      + estimated jaccard = fraction of agreeing minhashes.

    Scale: docs shuffle once per band keyed by the band signature; bucket
    blowup (the classic LSH skew) is capped at _MAX_BUCKET docs per bucket —
    beyond that a bucket is near-certainly a degenerate shingle set and is
    dropped (logged at scale via metrics, silently here).

    Deterministic: fixed hash seeds; output sorted semantics left to the
    driver (rows-only correctness check).
    """
    # small parquet = one input split; the shingle/hash work is CPU-bound,
    # so spread it across the cluster before the expression-heavy stages
    # (at real scale the file splits already provide this parallelism, and
    # AQE coalesces the trailing partitions)
    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents").repartition(par)
    toks = docs.select("doc_id", _tokens(F.col("text")).alias("toks"))
    raw = toks.select("doc_id", _shingles_raw(F.col("toks")).alias("raw"))

    # 32 minhashes via 32 INDEPENDENTLY-SEEDED hashes of each shingle
    # (xxhash64(i, s)). NOT the cheaper affine form min(h1 + i*h2): with a
    # shared (h1, h2) per shingle the 32 derived values are monotone in i,
    # so ONE shingle whose (h1, h2) are both small wins the min at EVERY
    # coordinate — and when that shingle is shared, two documents with true
    # Jaccard ~0 get near-identical signatures. Measured at sf0.01: a pair
    # with exact J = 1/110 estimated at 0.875, which crossed the 0.5
    # near-dup threshold and polluted neardup_clusters. Independent seeds
    # make the coordinates independent, restoring the textbook guarantee
    # E[est] = J with Hoeffding concentration (certified end-to-end by
    # minhash_jaccard_contract's oracle).
    #
    # Shape: explode shingles -> 32 plain min() aggregates. This is the
    # scalable form: per-shingle rows partially aggregate map-side; no
    # giant array columns cross the shuffle.
    #
    # The explode's child is deliberately a non-attribute expression
    # (array_distinct applied HERE, not in the projection above): when the
    # generator child is a plain column, Catalyst's InferFiltersFromGenerate
    # inlines the column's whole defining expression into an inferred
    # `size(..)>0 AND isnotnull(..)` filter and pushes it below the
    # repartition Exchange — re-running the shingle pipeline 2x per row on
    # the UN-repartitioned (single-split) scan. Measured 18x slower at
    # sf0.1. Empty-shingle docs are dropped by the explode itself, so no
    # explicit size() filter is needed.
    ex = raw.select("doc_id", F.explode(F.array_distinct("raw")).alias("s"))
    per_doc = ex.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.lit(i), F.col("s"))).alias(f"m{i}")
            for i in range(_NUM_HASHES)
        ]
    )
    # Materialize the signature table: it is tiny relative to the corpus
    # (#docs x 32 longs ≈ 264 B/doc) and is consumed three times (banding +
    # both sides of the candidate-pair join). Without materialization each
    # consumer would recompute the full shingle/hash pipeline.
    # cut_lineage (localCheckpoint here; reliable checkpoint when a
    # checkpoint dir is configured — see kasper_spark/lineage.py) instead
    # of a pinned persist():
    # same reuse, but the shingle->hash lineage is cut out of every
    # downstream plan and the blocks are released by the ContextCleaner
    # when the result goes out of scope — a pinned persist() with no
    # unpersist() would bleed cache across a 169-query sweep session.
    sigs = per_doc.select(
        "doc_id", F.array(*[f"m{i}" for i in range(_NUM_HASHES)]).alias("mh")
    ).transform(cut_lineage)

    # band signatures: xxhash64 over the band's row hashes (band id as the
    # first operand separates the hash families). A 64-bit signature is
    # enough for BUCKETING: a cross-signature collision merges two buckets,
    # which by itself only ADDS candidate pairs (later rejected by the
    # est_jaccard threshold); the one second-order caveat is the _MAX_BUCKET
    # cap below — a merged bucket that crosses the cap can truncate pairs a
    # separate bucket would have kept. That needs a collision among the
    # ~|docs|x8 band rows (~n^2/2^65 — negligible even at 10^9 docs, and any
    # affected pair usually shares other bands). In exchange the signature
    # is ~4x cheaper than the md5-of-concat form this replaced (no string
    # concat, no binary cast, no 128-bit digest) and shuffles 8 B instead
    # of a 32-char string per row. Signatures-only rows go through the bucket
    # shuffle — the 32-long mh arrays stay out of the wide stages and are
    # joined back at the end (pairs dedupe on two longs instead of two
    # arrays).
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.lit(b),
                            *[
                                F.element_at(F.col("mh"), b * _ROWS_PER_BAND + r + 1)
                                for r in range(_ROWS_PER_BAND)
                            ],
                        ).alias("sig"),
                    )
                    for b in range(_BANDS)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))

    # bucket -> intra-bucket candidate pairs (skew-capped, ids only). The
    # distinct runs BEFORE the jaccard estimate so the (cheap) 16-byte pair
    # rows are deduped across bands first and the 32-way signature compare
    # runs once per surviving pair, not once per band collision (~35x less
    # estimate work at these parameters).
    buckets = (
        bands.groupBy("band", "sig")
        .agg(
            F.slice(F.array_sort(F.collect_list("doc_id")), 1, _MAX_BUCKET).alias(
                "members"
            )
        )
        .filter(F.size("members") > 1)
    )
    pairs = (
        buckets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("members"),
                        lambda m: F.transform(
                            F.filter(F.col("members"), lambda x: x > m),
                            lambda x: F.struct(m.alias("doc_a"), x.alias("doc_b")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    a = sigs.select(F.col("doc_id").alias("doc_a"), F.col("mh").alias("mh_a"))
    b = sigs.select(F.col("doc_id").alias("doc_b"), F.col("mh").alias("mh_b"))
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("mh_a"), F.col("mh_b"), lambda x, y: x == y),
                lambda eq: eq,
            )
        ).cast("double")
        / _NUM_HASHES
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= 0.2)
    )


# |est - J| bound for the MinHash ERROR CONTRACT below. With 32 independent
# coordinates, sd(est) = sqrt(J(1-J)/32) <= 0.088; 0.2 is >2 sigma at the
# worst J and far beyond it at the extreme Jaccards that dominate real
# pairs (measured max |est - J| over the bounded pair set: 0.055 at both
# sf0.001 and sf0.01 — 3.6x margin). The r7 affine-family bug this guards
# against produced errors of 0.87+.
_MINHASH_EPS = 0.2


@register_query(
    "minhash_jaccard_contract",
    oracle=f"""
    WITH sets AS (
        SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS toks
        FROM documents WHERE doc_id < 40
    ), sh AS (
        SELECT doc_id,
               list_distinct(
                   CASE WHEN len(toks) >= {_SHINGLE_N}
                        THEN list_transform(
                                 generate_series(1, len(toks) - {_SHINGLE_N - 1}),
                                 i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
                        ELSE [] END) AS ss
        FROM sets
    ), ne AS (
        SELECT doc_id, ss FROM sh WHERE len(ss) > 0
    )
    SELECT
        a.doc_id AS doc_a,
        b.doc_id AS doc_b,
        CAST(len(list_filter(a.ss, s -> list_contains(b.ss, s))) AS BIGINT)
            AS n_common,
        CAST(len(list_filter(a.ss, s -> list_contains(b.ss, s))) AS DOUBLE)
            / (len(a.ss) + len(b.ss)
               - len(list_filter(a.ss, s -> list_contains(b.ss, s))))
            AS exact_jaccard,
        CAST(1 AS INTEGER) AS mh_within_bound
    FROM ne a JOIN ne b ON a.doc_id < b.doc_id
    """,
)
def minhash_jaccard_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ERROR CONTRACT for the PRODUCTION MinHash family (the sketch-
    certification pattern of approx_percentile/HLL applied to MinHash):
    over every pair in a bounded doc subset — overlapping AND disjoint —
    compute the xxhash64(i, s) signature agreement estimate alongside the
    exact shingle Jaccard, and emit `mh_within_bound` =
    |est - J| <= _MINHASH_EPS. The DuckDB oracle recomputes the exact
    Jaccards and asserts the contract as literal 1s, so a hash match
    certifies the estimator numerically — including that UNRELATED pairs
    estimate low, which is precisely what the affine-family dominance bug
    (est 0.875 at true J 0.009, caught round 7) violated and a
    candidates-only check can never see.

    Scale shape: the all-pairs join is against the bounded 40-doc side
    (broadcast BNLJ, allow-listed like tokenset_jaccard_pairs); the
    signature build is the production explode -> partial-agg min pipeline."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    toks = docs.select("doc_id", _tokens(F.col("text")).alias("toks"))
    sh = toks.select(
        "doc_id", F.array_distinct(_shingles_raw(F.col("toks"))).alias("sh")
    ).filter(F.size("sh") > 0)
    ex = sh.select("doc_id", F.explode("sh").alias("s"))
    sigs = ex.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.lit(i), F.col("s"))).alias(f"m{i}")
            for i in range(_NUM_HASHES)
        ]
    )
    a = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(_NUM_HASHES)],
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(_NUM_HASHES)],
    )
    agree = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(_NUM_HASHES)
    )
    est_pairs = a.join(F.broadcast(b), F.col("doc_a") < F.col("doc_b")).select(
        "doc_a", "doc_b", (agree / F.lit(float(_NUM_HASHES))).alias("est")
    )
    e = sh.select(F.col("doc_id").alias("doc"), F.explode("sh").alias("s"))
    inter = (
        e.alias("x")
        .join(
            e.alias("y"),
            (F.col("x.s") == F.col("y.s")) & (F.col("x.doc") < F.col("y.doc")),
        )
        .groupBy(F.col("x.doc").alias("doc_a"), F.col("y.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = sh.select(F.col("doc_id").alias("doc"), F.size("sh").alias("n"))
    exact = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return (
        est_pairs.join(inter, ["doc_a", "doc_b"], "left")
        .na.fill({"n_common": 0})
        .join(
            F.broadcast(sizes.select(F.col("doc").alias("doc_a"), F.col("n").alias("na"))),
            "doc_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("doc").alias("doc_b"), F.col("n").alias("nb"))),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("n_common").cast("long").alias("n_common"),
            exact.alias("exact_jaccard"),
            (F.abs(F.col("est") - exact) <= _MINHASH_EPS)
            .cast("integer")
            .alias("mh_within_bound"),
        )
    )


@register_query("simhash_fingerprints")  # rows-only: not SQL-expressible
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document + 16-bit prefix bucket.

    SimHash: for each token, xxhash64(token) contributes +1/-1 per bit
    position weighted by term frequency; the fingerprint sign-thresholds the
    64 sums. Near-dup docs differ in few bits (checked via hamming distance
    in tests). Entirely JVM-side expression work — no Python.
    """
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return _simhash_df(docs)


def _simhash_df(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash, bucket16) over any (doc_id, text) frame —
    simhash_fingerprints' expression body, shared with its structural
    contract's pinned fixture so the gate exercises the REAL fold."""
    toks = docs.select("doc_id", _tokens(F.col("text")).alias("toks"))
    hashes = toks.select(
        "doc_id", F.transform(F.col("toks"), lambda t: F.xxhash64(t)).alias("hs")
    )
    # Single pass over the token hashes: one aggregate folds every hash into
    # an array<int> of 64 bit-sums (bit_sums[i] = Σ tokens (bit i set ? +1 :
    # -1)), instead of 64 independent aggregates each re-traversing the
    # array. shiftright/shiftleft take the bit index as a column here, so we
    # go through call_function (the Python wrappers only accept int shifts).
    idx = F.sequence(F.lit(0), F.lit(63))
    bit_sums = F.aggregate(
        F.col("hs"),
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.transform(
            idx,
            lambda i: F.element_at(acc, i + 1)
            + F.when(
                F.call_function("shiftright", h, i).bitwiseAND(F.lit(1)) == 1,
                F.lit(1),
            ).otherwise(F.lit(-1)),
        ),
    )
    # fingerprint: bit i set iff bit_sums[i] > 0
    fp = F.aggregate(
        F.zip_with(
            bit_sums,
            idx,
            lambda s, i: F.when(
                s > 0, F.call_function("shiftleft", F.lit(1).cast("bigint"), i)
            ).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc.bitwiseOR(x),
    )
    return hashes.select(
        "doc_id",
        fp.alias("simhash"),
    ).withColumn("bucket16", F.shiftrightunsigned(F.col("simhash"), 48))


# Pinned md5 of the _simhash_df fixture rows (6 deterministic docs, SF-
# independent): the tokenizer, bit-sum fold and fingerprint packing
# changed iff this changes. Recompute via _simhash_fixture_fingerprint
# after an INTENTIONAL algorithm change only.
_SIMHASH_FIXTURE_MD5 = "49d472574bc1eaa5d33e0db3454e841a"


def _simhash_fixture_docs():
    return [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumped over a lazy dog"),
        (2, "pack my box with five dozen liquor jugs"),
        (3, "sphinx of black quartz judge my vow"),
        (4, ""),
        (5, "repeat repeat repeat repeat token weighting check"),
    ]


def _simhash_fixture_fingerprint(spark: SparkSession) -> str:
    import hashlib

    fx = spark.createDataFrame(_simhash_fixture_docs(), "doc_id long, text string")
    rows = sorted(map(tuple, _simhash_df(fx).collect()))
    return hashlib.md5(repr(rows).encode()).hexdigest()


@register_query(
    "simhash_fingerprints_contract",
    oracle="""
    SELECT CAST(0 AS BIGINT) AS n_rows_minus_docs,
           CAST(0 AS BIGINT) AS n_dup_doc,
           CAST(0 AS BIGINT) AS n_null_fp,
           CAST(0 AS BIGINT) AS n_bucket_mismatch,
           CAST(0 AS BIGINT) AS n_det_mismatch,
           CAST(0 AS BIGINT) AS n_fixture_mismatch
    """,
)
def simhash_fingerprints_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic structural gate for simhash_fingerprints (r15
    verdict #8): the xxhash fold is not oracle-expressible, but its
    invariants are — all-zero on a healthy build:

    - exactly one non-null fingerprint row per document, no duplicates;
    - bucket16 == simhash >> 48 (unsigned) on every row;
    - two independent evaluations return identical rows (determinism);
    - the fold reproduces the pinned SF-independent fixture fingerprint
      (_SIMHASH_FIXTURE_MD5) — tokenizer/fold drift trips it."""
    out = simhash_fingerprints(spark, sf_dir)
    agg = out.agg(
        F.count("*").alias("n"),
        F.countDistinct("doc_id").alias("n_doc"),
        F.sum(F.col("simhash").isNull().cast("long")).alias("n_null_fp"),
        F.sum(
            (
                F.col("bucket16")
                != F.shiftrightunsigned(F.col("simhash"), 48)
            ).cast("long")
        ).alias("n_bucket_mismatch"),
    ).collect()[0]
    n_docs = load_table(spark, sf_dir, "documents").count()
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, simhash_fingerprints(spark, sf_dir).collect()))
    n_det = 0 if a == b else 1
    n_fixture = (
        0 if _simhash_fixture_fingerprint(spark) == _SIMHASH_FIXTURE_MD5 else 1
    )
    return spark.createDataFrame(
        [
            (
                agg["n"] - n_docs,
                agg["n"] - agg["n_doc"],
                agg["n_null_fp"] or 0,
                agg["n_bucket_mismatch"] or 0,
                n_det,
                n_fixture,
            )
        ],
        "n_rows_minus_docs long, n_dup_doc long, n_null_fp long, "
        "n_bucket_mismatch long, n_det_mismatch long, n_fixture_mismatch long",
    )


def connected_components(edges: DataFrame, max_rounds: int = 50) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14). Each round contracts star edges toward the component minimum,
    roughly halving component diameter, so convergence is O(log d) rounds —
    a 100 TB chain-shaped component (which would silently mislabel under
    k-bounded min-label propagation) converges in ~log2(n) rounds here.

    ``edges``: first two columns are the undirected endpoints (self-loops
    and duplicates tolerated). Returns (doc_id, cluster_id) for every
    endpoint, cluster_id = min id in the component. Raises RuntimeError if
    the fixpoint is not reached within max_rounds — loud, never a silent
    mislabel.

    Per round: two shuffles (neighborhood min + re-key), lineage cut with
    cut_lineage so the plan stays O(1) per round (executor-loss-safe on
    clusters that set a checkpoint dir — kasper_spark/lineage.py).
    """
    a, b = edges.columns[:2]

    def fingerprint(df: DataFrame) -> tuple:
        """(count, order-independent hash-sum) of a distinct edge set — the
        table_checksum primitive turned inward: one map-side-combined
        aggregate per round instead of the two full-width exceptAll
        shuffles this replaced. Two distinct sets with equal count and
        equal sum of per-edge 63-bit hashes are equal up to a hash-sum
        collision (~n/2^63 — far below any operational risk; a collision
        here could only end the loop early, and the one-time EXACT
        exceptAll verification after the loop catches exactly that case,
        keeping the 'loud, never a silent mislabel' contract
        probability-free). DECIMAL(38,0) keeps the sum exact at any edge
        count."""
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.shiftrightunsigned(F.xxhash64("hi", "lo"), 1).cast("decimal(38,0)")
            ).alias("h"),
        ).first()
        return (r["n"], r["h"])

    e = (
        edges.select(F.col(a).alias("x"), F.col(b).alias("y"))
        .filter(F.col("x") != F.col("y"))
        .select(F.greatest("x", "y").alias("hi"), F.least("x", "y").alias("lo"))
        .distinct()
        .transform(cut_lineage)
    )
    fp_e = fingerprint(e)
    nodes = (
        e.select(F.col("hi").alias("doc_id"))
        .unionAll(e.select(F.col("lo").alias("doc_id")))
        .distinct()
        .transform(cut_lineage)
    )
    def one_round(cur: DataFrame, cut: bool = True) -> DataFrame:
        """One large-star + small-star contraction round (lineage cut).

        ``cut=False`` (the one-shot verification round, round-15 opt):
        no checkpoints — the round runs once over the already-cut
        fixpoint, so its plan depth is bounded without them, and the two
        materialization jobs they cost buy nothing."""
        # large-star: connect every larger neighbor v > u to min(N(u) + {u})
        nbrs = cur.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionAll(
            cur.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        mins = (
            nbrs.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("m"))
        )
        # ls is NOT checkpointed (round-15 opt): its two consumers below
        # live in the SAME final plan, so Spark's ReuseExchange computes
        # the subtree once; plan depth per round stays bounded by the
        # round-output cut over the already-cut `cur`. This halves the
        # materialization jobs per round (2 -> 1).
        ls = (
            nbrs.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
        )
        # small-star: connect every smaller neighbor (and u itself) to the
        # min smaller neighbor; edges are already directed hi -> lo
        mins_s = ls.groupBy("hi").agg(F.min("lo").alias("m"))
        out = (
            ls.join(mins_s, "hi")
            .select(F.col("lo").alias("x"), F.col("m").alias("y"))
            .unionAll(mins_s.select(F.col("hi").alias("x"), F.col("m").alias("y")))
            .filter(F.col("x") != F.col("y"))
            .select(F.greatest("x", "y").alias("hi"), F.least("x", "y").alias("lo"))
            .distinct()
        )
        return out.transform(cut_lineage) if cut else out

    for _ in range(max_rounds):
        ss = one_round(e)
        fp_ss = fingerprint(ss)
        changed = fp_ss != fp_e
        e, fp_e = ss, fp_ss
        if not changed:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    # One-time EXACT fixpoint verification on the final set: the loop's
    # per-round termination test is a (count, hash-sum) fingerprint, whose
    # ~2^-63/round collision odds could in principle end the loop on a
    # non-fixpoint. Re-run one round and demand set equality via exceptAll
    # (exact, not probabilistic) — restoring the 'loud, never a silent
    # mislabel' contract at the cost of one extra round, once.
    # Exact set equality in ONE job (round-15 opt): both sides are
    # distinct edge sets, so the signed multiset count per edge is 0
    # everywhere iff the sets are equal — one union+groupBy replaces the
    # two exceptAll shuffles + two isEmpty actions, same exactness.
    verify = one_round(e, cut=False)
    diff = (
        verify.select("hi", "lo", F.lit(1).alias("w"))
        .unionAll(e.select("hi", "lo", F.lit(-1).alias("w")))
        .groupBy("hi", "lo")
        .agg(F.sum("w").alias("s"))
        .filter(F.col("s") != 0)
    )
    if not diff.isEmpty():
        raise RuntimeError(
            "connected_components: fingerprint signalled a fixpoint but the "
            "edge set is still changing (hash-sum collision) — rerun"
        )
    # fixpoint is a union of stars: every edge points child -> component min
    child = e.groupBy(F.col("hi").alias("doc_id")).agg(
        F.min("lo").alias("cluster_id")
    )
    return nodes.join(child, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id")
    )


@register_query("neardup_clusters")  # rows-only: iterative fixpoint algorithm
def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the MinHash
    candidate-pair graph — the step that turns pairwise candidates into
    keep-one-per-group dedup decisions. Uses alternating large-star /
    small-star (see connected_components) so convergence is logarithmic in
    component diameter, with a loud failure instead of a silent mislabel.
    Deterministic: cluster id = min doc_id in the component.

    Output: (doc_id, cluster_id) for every doc that has at least one
    near-dup candidate (est_jaccard >= 0.5); singletons are implicitly
    their own cluster and omitted (at 100 TB they are ~all docs)."""
    pairs = minhash_lsh_candidates(spark, sf_dir).filter(
        F.col("est_jaccard") >= 0.5
    )
    return connected_components(pairs.select("doc_a", "doc_b"))


@register_query(
    "levenshtein_block_pairs",
    oracle="""
    WITH d AS (
        SELECT doc_id, source, lang, split_part(text, ' ', 1) AS w1,
               substr(text, 1, 30) AS p
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(a.p, b.p) AS dist
    FROM d a
    JOIN d b ON a.source = b.source AND a.lang = b.lang AND a.w1 = b.w1
            AND a.doc_id < b.doc_id
    WHERE levenshtein(a.p, b.p) <= 18
    ORDER BY doc_a, doc_b
    """,
)
def levenshtein_block_pairs(
    spark: SparkSession, sf_dir: str, ordered: bool = True, with_block: bool = False
) -> DataFrame:
    """Edit-distance near-dup candidates with BLOCKING: compare document
    prefixes only within the same (source, lang, first-token) block — the
    classic record-linkage token-blocking recipe (block on a name token)
    that turns an O(n²) corpus-wide comparison into per-block equi-join
    work. Complements the token-set (Jaccard), MinHash, SimHash, and
    embedding near-dup operators with a character-level similarity the
    others can't see (typo-level edits).

    Block-key cardinality (the round-8 verdict's scale finding): the old
    (source, lang) key had FIXED cardinality, so per-block pair counts
    grew quadratically with corpus size — 4.6x wall at 10x data. Adding
    the first prefix token makes the key CONTENT-ADAPTIVE: block count
    grows with vocabulary, block size is bounded by how many documents
    genuinely open with the same word in the same source+lang shard, and
    the candidate set collapses to near the true-duplicate pair count.
    (Recall trade, stated: a pair whose edit lands in the first token is
    no longer a candidate — the standard blocking trade; multi-pass
    blocking on a second key is the recall-recovery pattern at 100 TB.)

    Scale: the equi-join on the block key shuffles both sides once;
    levenshtein runs JVM-side with the threshold form (early-exits the DP
    once the distance exceeds 18, turning the O(30²) worst case into
    O(30·18) for far pairs)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "lang",
        F.split_part(F.col("text"), F.lit(" "), F.lit(1)).alias("w1"),
        F.substring("text", 1, 30).alias("p"),
    )
    a = d.select(
        F.col("doc_id").alias("doc_a"),
        "source",
        "lang",
        "w1",
        F.col("p").alias("pa"),
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("source").alias("source_b"),
        F.col("lang").alias("lang_b"),
        F.col("w1").alias("w1_b"),
        F.col("p").alias("pb"),
    )
    dist = F.levenshtein(F.col("pa"), F.col("pb"), 18)
    keyed = (
        a.join(
            b,
            (F.col("source") == F.col("source_b"))
            & (F.col("lang") == F.col("lang_b"))
            & (F.col("w1") == F.col("w1_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .withColumn("dist", dist)
        .filter(F.col("dist") >= 0)
    )
    if with_block:
        return keyed.select("source", "lang", "w1", "doc_a", "doc_b", "dist")
    out = keyed.select("doc_a", "doc_b", "dist")
    if ordered:
        out = out.orderBy("doc_a", "doc_b")
    return out


def _cc_within_blocks(pairs: DataFrame, key_cols: list[str]) -> DataFrame:
    """(doc_id, cluster_id = min id in component) via ONE per-block
    union-find pass — the round-16 rewire of entity_resolution_pipeline's
    transitive closure (r15 verdict #4, guide §2.4/§5).

    Valid ONLY for edge sets whose endpoints never span ``key_cols``
    groups (true by construction for blocking joins: both docs of a pair
    carry the block key), so the global components are exactly the union
    of per-block components and the O(log d) large/small-star loop's
    ~2 jobs x rounds collapse into one shuffle + one Arrow pass. Union by
    MIN root (the smaller root adopts the larger) makes each final root
    the component minimum — the same cluster_id connected_components
    labels; equality is pinned in tests/test_round16_opt.py and the ER
    oracle's recursive-CTE closure re-certifies it end-to-end.

    Scale: one task per block; blocks are bounded by the blocking design
    (that is the point of blocking), and union-find is O(E a(E)) with
    path compression, so a task costs ~the block's edge list. A corpus
    whose hottest block outgrows a task should fall back to the
    large/small-star loop — documented, not silently assumed."""

    def cc_fn(pdf):
        import pandas as pd

        parent: dict = {}

        def find(x: int) -> int:
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        for x, y in zip(pdf["doc_a"].to_numpy(), pdf["doc_b"].to_numpy()):
            rx, ry = find(int(x)), find(int(y))
            if rx != ry:
                if rx < ry:
                    parent[ry] = rx
                else:
                    parent[rx] = ry
        nodes = sorted(
            set(int(v) for v in pdf["doc_a"]) | set(int(v) for v in pdf["doc_b"])
        )
        return pd.DataFrame(
            {"doc_id": nodes, "cluster_id": [find(n) for n in nodes]}
        )

    return (
        pairs.select(*key_cols, "doc_a", "doc_b")
        .groupBy(*key_cols)
        .applyInPandas(cc_fn, "doc_id long, cluster_id long")
    )


def _pagerank_oracle_sql(iters: int = 8, graph_cte: str | None = None) -> str:
    """Generate the unrolled PageRank oracle: the same graph CTE (bounded
    Jaccard by default; the md5-LSH scale-path graph for
    pagerank_lsh_graph), the same 8 synchronous iterations, the same
    decimal-exact contribution sums (see pagerank_neardup_graph for why
    each arithmetic step is engine-exact)."""
    head = """
    WITH """ + (graph_cte or _JACCARD_GRAPH_CTE) + """,
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
    r0 AS (
        SELECT src AS doc_id, CAST(1 AS DOUBLE) / nn.n AS rank FROM deg, nn
    )"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(f"""
    r{i} AS (
        SELECT
            e.dst AS doc_id,
            CAST(0.15 AS DOUBLE) / nn.n
              + CAST(0.85 AS DOUBLE)
              * CAST(SUM(CAST(r.rank / d.outdeg AS DECIMAL(38,14))) AS DOUBLE) AS rank
        FROM edges e
        JOIN r{i - 1} r ON e.src = r.doc_id
        JOIN deg d ON e.src = d.src
        CROSS JOIN nn
        GROUP BY e.dst, nn.n
    )""")
    return (
        head
        + ","
        + ",".join(steps)
        + f"""
    SELECT r{iters}.doc_id, deg.outdeg AS n_neighbors, r{iters}.rank AS pagerank
    FROM r{iters} JOIN deg ON r{iters}.doc_id = deg.src
    ORDER BY pagerank DESC, doc_id
    """
    )


@register_query("pagerank_neardup_graph", oracle=_pagerank_oracle_sql())
def pagerank_neardup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-duplicate similarity graph (8 synchronous
    iterations, damping 0.85) — "which documents sit at the center of a
    duplication cluster": the authority signal a dedup pipeline uses to
    pick canonical representatives.

    This is the engine's second ITERATIVE operator (after the
    large-star/small-star connected components) and the first with a FLOAT
    fixpoint that is still hash-exact against the SQL oracle. The trick is
    the same dsum discipline as everywhere else: per-edge contributions
    rank/outdeg are pointwise double ops (IEEE-deterministic on both
    engines); the order-dependent step — summing contributions per target —
    runs in DECIMAL(38,14) (exact, associative), and only the finished sum
    is cast back to double. Every iteration is therefore bit-identical on
    any partitioning, any engine (the oracle unrolls the same 8 steps —
    _pagerank_oracle_sql). Scale 14 obeys the functions/exact.py cast rule:
    per-node sums stay < 1, so the summed unscaled value < 10^14 < 2^53 and
    the decimal->double cast is correctly rounded on both engines (scale 18
    was observed to diverge in the last ulp, exactly as that rule predicts).

    Scale shape: per iteration, one shuffle of edges-joined-ranks by dst
    (AQE broadcasts the rank side while it is small; at web scale both
    sides shuffle on their keys — the standard synchronous PageRank round).
    The demo graph is the bounded tokenset_jaccard_pairs candidate set; at
    100 TB the edges come from minhash_lsh_candidates instead
    (pagerank_lsh_graph certifies exactly that composition). Each iteration
    eagerly cuts the rank vector's lineage — values are unchanged (the
    checkpoint materializes exactly the computed rows) but the plan stays
    O(1) per round instead of growing with the full upstream pipeline,
    the same lineage discipline connected_components uses. Graph is
    symmetric (undirected near-dup relation), so every node
    has an in-edge and the dangling-mass term vanishes."""
    return _pagerank_over_pairs(_bounded_jaccard_pairs(spark, sf_dir))


def _pagerank_over_pairs(pairs: DataFrame, iters: int = 8) -> DataFrame:
    """8-iteration decimal-exact PageRank over an undirected (doc_a, doc_b)
    pair list — shared by the bounded-Jaccard demo graph and the md5-LSH
    scale-path graph (pagerank_lsh_graph).

    Lineage discipline (the scale requirement): the edge/degree tables are
    lineage-cut ONCE (cutting the candidate-pipeline lineage out of
    every round's plan), and the evolving rank vector is eagerly
    lineage-cut EVERY round, so the physical plan is O(1) per round
    — the same pattern connected_components uses (and the reason
    cc_lsh_graph plans 3 exchanges). Without the per-round cut the plan
    grows with the iteration count times the full upstream pipeline:
    pagerank_lsh_graph planned 1,838 exchanges before this fix,
    which at 100 TB means minutes of Catalyst planning and a full
    recompute cascade on any eviction. Values are bit-identical either
    way (a checkpoint materializes exactly the computed rows)."""
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    # consumed every round: materialize once AND cut the upstream lineage
    edges = edges.transform(cut_lineage)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")).transform(cut_lineage)
    n = deg.count()
    ranks = deg.select("src", (F.lit(1.0) / n).alias("rank")).withColumnRenamed(
        "src", "doc_id"
    )
    for _ in range(iters):
        contribs = (
            edges.join(ranks, edges.src == ranks.doc_id)
            .join(deg, "src")
            .select(
                "dst",
                (F.col("rank") / F.col("outdeg")).cast("decimal(38,14)").alias("c"),
            )
        )
        ranks = (
            contribs.groupBy("dst")
            .agg(
                (F.lit(0.15) / n + F.lit(0.85) * F.sum("c").cast("double")).alias(
                    "rank"
                )
            )
            .withColumnRenamed("dst", "doc_id")
            .transform(cut_lineage)  # per-round lineage cut (see docstring)
        )
    return (
        ranks.join(deg, ranks.doc_id == deg.src)
        .select("doc_id", F.col("outdeg").alias("n_neighbors"), F.col("rank").alias("pagerank"))
        .orderBy(F.desc("pagerank"), "doc_id")
    )


def _lpa_oracle_sql(iters: int = 8, graph_cte: str | None = None) -> str:
    """Unrolled label-propagation oracle: same graph CTE as pagerank
    (parametrizable, see _pagerank_oracle_sql), same self-loop-damped
    synchronous votes, same min-label tie-break."""
    head = """
    WITH """ + (graph_cte or _JACCARD_GRAPH_CTE) + """,
    nodes AS (
        SELECT DISTINCT doc_a AS node FROM pairs
        UNION
        SELECT DISTINCT doc_b AS node FROM pairs
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
        UNION ALL
        SELECT node AS src, node AS dst FROM nodes
    ),
    l0 AS (SELECT node, node AS label FROM nodes)"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(f"""
    l{i} AS (
        SELECT node, label FROM (
            SELECT v.node AS node, v.label AS label,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.node ORDER BY v.cnt DESC, v.label
                   ) AS rn
            FROM (
                SELECT e.dst AS node, l.label AS label, COUNT(*) AS cnt
                FROM edges e JOIN l{i - 1} l ON e.src = l.node
                GROUP BY e.dst, l.label
            ) v
        ) WHERE rn = 1
    )""")
    return (
        head
        + ","
        + ",".join(steps)
        + f"""
    SELECT
        l{iters}.node AS doc_id,
        l{iters}.label AS community,
        CAST(COUNT(*) OVER (PARTITION BY l{iters}.label) AS BIGINT) AS community_size
    FROM l{iters}
    ORDER BY community, doc_id
    """
    )


@register_query("label_propagation_communities", oracle=_lpa_oracle_sql())
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation over the near-duplicate graph —
    community detection: where connected components answer "which docs are
    transitively linked at all", LPA's majority vote splits a component
    into densely-linked duplication families (two clusters bridged by one
    borderline pair stay separate communities).

    Determinism (the classic LPA pitfall, solved): every step is INTEGER
    arithmetic — votes are counts, the winner is (max count, then MIN
    label) via a rank-1 window — and the iteration count is fixed (8), so
    the result is bit-identical on any partitioning and any engine; the
    oracle unrolls the same 8 steps. A self-loop per node adds the node's
    own label to its vote, damping the 2-coloring oscillation synchronous
    LPA exhibits on bipartite-ish regions.

    Scale shape: per iteration, votes = one shuffle of (edges join labels)
    by dst + a partial-aggregated count; the argmax is a per-node window
    over label-count rows (vocabulary of labels per node is bounded by its
    degree, so WindowGroupLimit keeps it heap-local). Same demo graph as
    pagerank_neardup_graph (bounded all-pairs, allow-listed); at 100 TB
    the edges come from minhash_lsh_candidates and each round checkpoints
    to cut lineage, exactly as neardup_clusters does (lpa_lsh_graph
    certifies exactly that composition)."""
    return _lpa_over_pairs(_bounded_jaccard_pairs(spark, sf_dir))


def _lpa_over_pairs(pairs: DataFrame, iters: int = 8) -> DataFrame:
    """8-iteration deterministic LPA over an undirected (doc_a, doc_b) pair
    list — shared by the bounded-Jaccard demo graph and the md5-LSH
    scale-path graph (lpa_lsh_graph).

    Lineage discipline: graph lineage-cut once, evolving label table
    eagerly lineage-cut per round, so the plan is O(1) per round
    (same pattern as connected_components / _pagerank_over_pairs;
    lpa_lsh_graph planned 1,098 exchanges before this cut). Values are
    bit-identical — the checkpoint materializes exactly the computed rows."""
    from pyspark.sql.window import Window

    nodes = (
        pairs.select(F.col("doc_a").alias("node"))
        .union(pairs.select(F.col("doc_b").alias("node")))
        .distinct()
    )
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .unionAll(nodes.select(F.col("node").alias("src"), F.col("node").alias("dst")))
        # consumed every round: materialize once AND cut the upstream lineage
        .transform(cut_lineage)
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    by_votes = Window.partitionBy("node").orderBy(
        F.desc("cnt"), F.asc("label")
    )
    for _ in range(iters):
        votes = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("node2"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumnRenamed("node2", "node")
        )
        labels = (
            votes.withColumn("rn", F.row_number().over(by_votes))
            .filter(F.col("rn") == 1)
            .select("node", "label")
            .transform(cut_lineage)  # per-round lineage cut (see docstring)
        )
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("community"),
        F.count(F.lit(1))
        .over(Window.partitionBy("label"))
        .cast("bigint")
        .alias("community_size"),
    ).orderBy("community", "doc_id")


def _cc_canonical_oracle_sql(graph_cte: str | None = None) -> str:
    """Recursive-CTE transitive-closure CC oracle over a graph CTE (bounded
    Jaccard by default; the md5-LSH scale-path graph for cc_lsh_graph)."""
    return """
    WITH RECURSIVE """ + (graph_cte or _JACCARD_GRAPH_CTE) + """,
    nodes AS (
        SELECT DISTINCT doc_a AS node FROM pairs
        UNION
        SELECT DISTINCT doc_b AS node FROM pairs
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(node, r) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.dst, reach.r FROM edges e JOIN reach ON reach.node = e.src
    )
    SELECT
        node AS doc_id,
        CAST(MIN(r) AS BIGINT) AS cluster_id,
        CAST(node = MIN(r) AS BIGINT) AS is_canonical
    FROM reach
    GROUP BY node
    ORDER BY doc_id
"""


_CC_CANONICAL_ORACLE = _cc_canonical_oracle_sql()


@register_query("neardup_cc_canonical", oracle=_CC_CANONICAL_ORACLE)
def neardup_cc_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components + canonical-representative choice over the
    bounded Jaccard graph — the HASH-CERTIFIED instance of the large-star/
    small-star algorithm.

    neardup_clusters (the production form over MinHash candidates) is
    rows-only: LSH internals are not SQL-expressible. This query runs the
    IDENTICAL connected_components() implementation on the exact Jaccard
    graph the pagerank/LPA queries use, where the ground truth IS
    SQL-expressible — DuckDB computes the transitive closure with a
    recursive CTE and takes MIN(reachable) per node. A hash match here
    certifies the iterative Spark algorithm (star contractions, fixpoint
    detection, min-id labeling) against an independent formulation, on top
    of the existing union-find property tests.

    Output: every node with >=1 near-dup edge, its component min-id, and
    the keep/drop decision (canonical = the min-id doc) a dedup pipeline
    acts on. Scale: the closure oracle is O(n * component) and exists only
    for verification; the Spark side is the same O(log d)-round CC that
    runs on the full corpus."""
    pairs = _bounded_jaccard_pairs(spark, sf_dir)
    cc = connected_components(pairs)
    return cc.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).cast("bigint").alias("is_canonical"),
    ).orderBy("doc_id")


def _triangle_oracle_sql(graph_cte: str | None = None) -> str:
    """Triangle/clustering-coefficient oracle over a graph CTE (bounded
    Jaccard by default; the md5-LSH scale-path graph for
    triangle_lsh_graph)."""
    return """
    WITH """ + (graph_cte or _JACCARD_GRAPH_CTE) + """,
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
            SELECT doc_a AS node FROM pairs
            UNION ALL
            SELECT doc_b AS node FROM pairs
        ) GROUP BY node
    ),
    tri AS (
        SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
        FROM pairs e1
        JOIN pairs e2 ON e2.doc_a = e1.doc_b
        JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ),
    tcount AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY node
    )
    SELECT
        deg.node AS doc_id,
        deg.degree AS degree,
        CAST(COALESCE(tcount.n_triangles, 0) AS BIGINT) AS n_triangles,
        CASE WHEN deg.degree >= 2
             THEN CAST(2 * COALESCE(tcount.n_triangles, 0) AS DOUBLE)
                  / (deg.degree * (deg.degree - 1))
             ELSE CAST(0.0 AS DOUBLE) END AS clustering_coeff
    FROM deg LEFT JOIN tcount ON deg.node = tcount.node
    ORDER BY doc_id
"""


_TRIANGLE_ORACLE = _triangle_oracle_sql()


@register_query("triangle_clustering_coeff", oracle=_TRIANGLE_ORACLE)
def triangle_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over the
    near-dup graph — motif analysis that separates CLIQUE-like duplication
    families (template spam: every copy resembles every other, coefficient
    -> 1) from STAR-like ones (one canonical doc with many partial
    derivatives, coefficient -> 0); the two need different dedup policies.

    Algorithm: canonical a<b<c edge orientation counts each triangle once
    via two equi-joins over the (lo, hi) pair list — the standard
    distributed triangle enumeration; at web scale the join keys are
    degree-ordered (orient edges low-degree -> high-degree) so the heavy
    join's fan-out is bounded by arboricity, same plan shape. Coefficient
    = 2T / (d(d-1)): integer arithmetic + ONE double division
    (engine-exact). Same bounded demo graph as the pagerank/LPA/CC family
    (allow-listed all-pairs build); at 100 TB the edges come from
    minhash_lsh_candidates (triangle_lsh_graph certifies exactly that
    composition)."""
    return _triangles_over_pairs(_bounded_jaccard_pairs(spark, sf_dir))


def _triangles_over_pairs(pairs: DataFrame) -> DataFrame:
    """Per-node triangle count + clustering coefficient over an undirected
    a<b pair list — shared by the bounded demo graph and the md5-LSH
    scale-path graph (triangle_lsh_graph).

    The pair list is consumed four times (degree + the three-way triangle
    self-join); cut_lineage materializes it once AND cuts the upstream
    candidate-pipeline lineage out of the plan (triangle_lsh_graph planned
    191 exchanges before this cut — the md5-LSH pipeline repeated per
    reference)."""
    pairs = pairs.transform(cut_lineage)
    deg = (
        pairs.select(F.col("doc_a").alias("node"))
        .unionAll(pairs.select(F.col("doc_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    e1 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = pairs.select(F.col("doc_a").alias("b2"), F.col("doc_b").alias("c"))
    e3 = pairs.select(F.col("doc_a").alias("a3"), F.col("doc_b").alias("c3"))
    tri = (
        e1.join(e2, e1.b == e2.b2)
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
    )
    tcount = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    t = F.coalesce(F.col("n_triangles"), F.lit(0)).cast("bigint")
    d = F.col("degree")
    return (
        deg.join(tcount, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            "degree",
            t.alias("n_triangles"),
            F.when(d >= 2, (2 * t).cast("double") / (d * (d - 1)))
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Scale-path graph certification: PageRank / LPA over LSH candidates.
#
# The bounded (doc_id < 40) Jaccard graph above exists so the oracle stays
# tractable; the production composition is minhash_lsh_candidates -> graph
# algorithm. These queries hash-certify exactly that composition: the SAME
# shingle -> minhash -> band -> bucket -> verify pipeline, over the FULL
# documents table, feeding the SAME PageRank/LPA iterations — with one
# substitution that makes a DuckDB oracle possible: the hash family is
# md5-derived — coordinate i hashes md5('{i}|' || shingle), first 15 hex
# digits parsed as a 60-bit BIGINT (both engines compute bit-identical md5
# hex) — instead of xxhash64 (Spark-only). Like the production family this
# uses 32 INDEPENDENTLY-SEEDED hashes, not the affine min(h1 + i*h2) trick
# (whose coordinates are monotone in i and let one small-(h1,h2) shingle
# dominate every coordinate — see minhash_lsh_candidates). The xxhash64
# form stays the throughput operator; this form proves the composition
# end-to-end against SQL. No bucket cap here: the cap is a skew guard
# whose SQL twin (per-bucket list slice) would certify the cap, not the
# algorithm.


# ONE canonical SQL definition of the tokenization + word-3-gram shingle
# set (the twin of _tokens + _shingles_raw + array_distinct) — shared by
# the LSH band pipeline, novelty scoring and winnowing so the three can
# never drift apart.
_SHINGLES_CTE = f"""sets AS (
        SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS toks
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, t.s AS s
        FROM sets, UNNEST(
            CASE WHEN len(toks) >= {_SHINGLE_N}
                 THEN list_transform(generate_series(1, len(toks) - {_SHINGLE_N - 1}),
                          i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
                 ELSE [] END) AS t(s)
    )"""


def _build_lsh_bands_cte() -> str:
    """CTE prefix through the ``bands`` table (doc_id, band, bsig) — shared
    by the graph queries (which add candidate pairs + verification) and the
    streaming dedup-at-ingest twin (which joins bands directly)."""
    min_cols = ",\n               ".join(
        f"MIN(CAST('0x' || substring(md5('{i}|' || s), 1, 15) AS BIGINT)) AS m{i}"
        for i in range(_NUM_HASHES)
    )
    band_union = "\n        UNION ALL\n        ".join(
        f"SELECT doc_id, {b} AS band, "
        + " || '|' || ".join(
            f"CAST(m{b * _ROWS_PER_BAND + r} AS VARCHAR)"
            for r in range(_ROWS_PER_BAND)
        )
        + " AS bsig FROM sigs"
        for b in range(_BANDS)
    )
    # sigs is MATERIALIZED: DuckDB inlines plain CTEs at every reference,
    # and sigs is referenced by all 8 band branches (plus the signature
    # verify) — inlining would recompute the 32-md5-per-shingle aggregate
    # 8-10x (measured 56 s -> ~2 s at sf0.01 with the hint)
    return _SHINGLES_CTE + f""",
    sigs AS MATERIALIZED (
        SELECT doc_id, {min_cols}
        FROM sh GROUP BY doc_id
    ),
    bands AS MATERIALIZED (
        {band_union}
    )"""


_LSH_BANDS_CTE = _build_lsh_bands_cte()


def _build_lsh_graph_cte() -> str:
    agree = " + ".join(
        f"(CASE WHEN x.m{i} = y.m{i} THEN 1 ELSE 0 END)" for i in range(_NUM_HASHES)
    )
    return _LSH_BANDS_CTE + f""",
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b USING (band, bsig)
        WHERE a.doc_id < b.doc_id
    ),
    pairs AS MATERIALIZED (
        SELECT c.doc_a, c.doc_b
        FROM cand c JOIN sigs x ON c.doc_a = x.doc_id
                    JOIN sigs y ON c.doc_b = y.doc_id
        WHERE ({agree}) / {_NUM_HASHES}.0 >= 0.5
    )"""


_LSH_GRAPH_CTE = _build_lsh_graph_cte()


def _md5_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, m0..m31): the md5-family MinHash signatures over the
    documents table — the Spark twin of _LSH_BANDS_CTE's ``sigs``,
    shared by _md5_lsh_pairs and the persisted LSH index build.

    Round-15 opt: one map-only Python pass per partition instead of the
    32-wide md5/conv aggregate (the JVM form evaluated 32 codegen'd
    md5+hex-conv chains per exploded shingle row). Bit-identity to the
    oracle's sigs CTE (certified through the _md5_lsh_pairs keys): tokens =
    split-on-space minus empties (str.split(" ") keeps consecutive-space
    empties exactly like F.split's regex); shingles = 3-gram joins,
    per-doc distinct, docs under 3 tokens absent; each m_i =
    min over shingles of the first 15 hex digits of md5("{i}|" + s) as
    an integer — int.from_bytes(digest[:8]) >> 4 IS int(hexdigest[:15],
    16), and md5 prefix states are reused across shingles."""
    par = spark.sparkContext.defaultParallelism
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(par)
    )
    schema = "doc_id long, " + ", ".join(f"m{i} long" for i in range(_NUM_HASHES))
    return docs.mapInPandas(_md5_sig_fn(_NUM_HASHES, _SHINGLE_N), schema)


# Per-task bound on _md5_sig_fn's shingle memo: each entry holds a
# 32-lane tuple of ints, about 1.5 KB with its key, so 2^16 entries stay
# near 96 MiB.
_MD5_MEMO_CAP = 1 << 16


def _md5_sig_fn(nh: int, n: int, memo_cap: int = _MD5_MEMO_CAP):
    """The mapInPandas body of _md5_sigs: (doc_id, text) frames in,
    (doc_id, m0..m{nh-1}) frames out. Returned as a closure so that
    cloudpickle ships it by value (workers need no importable
    kasper_spark); ``memo`` may be passed in to observe it."""

    def sig_fn(pdfs, memo=None):
        import hashlib

        import pandas as pd

        prefs = [hashlib.md5(f"{i}|".encode()) for i in range(nh)]
        copies = [h.copy for h in prefs]
        from_bytes = int.from_bytes
        # Boilerplate shingles repeat heavily across documents (~90%
        # corpus-wide at sf0.1), so memoize shingle -> nh-lane hash tuple
        # per task (round-16 opt, §4.5 amortized state): repeated
        # shingles hash once, values unchanged by construction. The memo
        # is cleared when it reaches memo_cap, so a high-cardinality
        # corpus cannot grow it without bound.
        if memo is None:
            memo = {}
        for pdf in pdfs:
            out: dict[str, list] = {"doc_id": []}
            for i in range(nh):
                out[f"m{i}"] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue  # NULL text == empty shingle set == absent doc
                toks = [w for w in text.split(" ") if w != ""]
                if len(toks) < n:
                    continue
                sh = {
                    " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
                }
                mins = [None] * nh
                for s in sh:
                    vs = memo.get(s)
                    if vs is None:
                        b = s.encode()
                        vals = []
                        for c in copies:
                            h = c()
                            h.update(b)
                            vals.append(from_bytes(h.digest()[:8], "big") >> 4)
                        vs = tuple(vals)
                        if len(memo) >= memo_cap:
                            memo.clear()
                        memo[s] = vs
                    for i in range(nh):
                        v = vs[i]
                        if mins[i] is None or v < mins[i]:
                            mins[i] = v
                out["doc_id"].append(int(doc_id))
                for i in range(nh):
                    out[f"m{i}"].append(mins[i])
            yield pd.DataFrame(out)

    return sig_fn


def _pack_sig(sigs: DataFrame) -> DataFrame:
    """(doc_id, sig array<long>): the 32 minhash columns packed into one
    array for storage (see _build_lsh_index's scan-width rationale)."""
    return sigs.select(
        "doc_id", F.array(*[f"m{i}" for i in range(_NUM_HASHES)]).alias("sig")
    )


def _unpack_sig(packed: DataFrame) -> DataFrame:
    """Inverse of _pack_sig: re-expose m0..m31 as columns (a projection —
    the underlying scan still reads just doc_id + sig)."""
    return packed.select(
        "doc_id",
        *[F.col("sig").getItem(i).alias(f"m{i}") for i in range(_NUM_HASHES)],
    )


def _band_sigs(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, bsig): the banded signature rows over a ``sigs``
    table — the Spark twin of _LSH_BANDS_CTE's ``bands``."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "|",
                            *[
                                F.col(f"m{b * _ROWS_PER_BAND + r}").cast("string")
                                for r in range(_ROWS_PER_BAND)
                            ],
                        ).alias("bsig"),
                    )
                    for b in range(_BANDS)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.bsig").alias("bsig"))


def _md5_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b) LSH near-dup edges over the FULL documents table —
    the Python twin of _LSH_GRAPH_CTE, same plan shape as
    minhash_lsh_candidates (shingle explode -> partial-agg minhash ->
    band-signature bucket shuffle -> intra-bucket pairs -> signature
    verify) with the md5 hash family so both engines agree bit-for-bit."""
    sigs = _md5_sigs(spark, sf_dir)
    # consumed twice (banding + signature verify): cut_lineage
    # materializes once (MEMORY_AND_DISK) and, unlike a pinned persist(),
    # cuts the shingle->hash lineage out of every downstream plan and is
    # released by the ContextCleaner when the result goes out of scope —
    # no cache bleeding into the next query of a 169-query sweep.
    sigs = sigs.transform(cut_lineage)
    bands = _band_sigs(sigs)
    buckets = (
        bands.groupBy("band", "bsig")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("members"))
        .filter(F.size("members") > 1)
    )
    pairs = (
        buckets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("members"),
                        lambda m: F.transform(
                            F.filter(F.col("members"), lambda x: x > m),
                            lambda x: F.struct(m.alias("doc_a"), x.alias("doc_b")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    mh = sigs.select(
        "doc_id", F.array(*[f"m{i}" for i in range(_NUM_HASHES)]).alias("mh")
    )
    a = mh.select(F.col("doc_id").alias("doc_a"), F.col("mh").alias("mh_a"))
    b = mh.select(F.col("doc_id").alias("doc_b"), F.col("mh").alias("mh_b"))
    agree = F.size(
        F.filter(F.zip_with(F.col("mh_a"), F.col("mh_b"), lambda x, y: x == y), lambda e: e)
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(agree.cast("double") / _NUM_HASHES >= 0.5)
        .select("doc_a", "doc_b")
    )


@register_query(
    "pagerank_lsh_graph", oracle=_pagerank_oracle_sql(graph_cte=_LSH_GRAPH_CTE)
)
def pagerank_lsh_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the LSH-candidate near-dup graph — the 100 TB
    composition (minhash/LSH candidates -> graph algorithm) hash-certified
    end-to-end: full documents table, no doc_id bound, no all-pairs join
    anywhere (the graph is built by the banding bucket shuffle), and the
    oracle recomputes the identical pipeline in SQL thanks to the
    md5-derived hash family (see _LSH_GRAPH_CTE block comment)."""
    return _pagerank_over_pairs(_md5_lsh_pairs(spark, sf_dir))


@register_query("lpa_lsh_graph", oracle=_lpa_oracle_sql(graph_cte=_LSH_GRAPH_CTE))
def lpa_lsh_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities over the LSH-candidate graph — the
    scale-path twin of label_propagation_communities, certified like
    pagerank_lsh_graph (same md5-LSH edge set, same unrolled-SQL oracle)."""
    return _lpa_over_pairs(_md5_lsh_pairs(spark, sf_dir))


@register_query(
    "lsh_candidates_md5",
    oracle="WITH "
    + _LSH_GRAPH_CTE
    + """
    SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b
    """,
)
def lsh_candidates_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH candidate-pair surface itself, hash-certified: same banding
    pipeline as minhash_lsh_candidates (which stays rows-only because
    xxhash64 is Spark-only), md5 hash family so DuckDB recomputes the
    identical pair list. Closes the oracle gap on the LSH tier: the
    candidate set, not just graph algorithms consuming it, now has an
    exact cross-engine proof."""
    return _md5_lsh_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


def _simhash_md5_oracle_sql(bits: int = 60) -> str:
    bit_sums = ",\n               ".join(
        f"SUM(CASE WHEN (h1 >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(bits)
    )
    fp = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN CAST(1 AS BIGINT) << {j} ELSE 0 END)"
        for j in range(bits)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, t.tok AS tok
        FROM (
            SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ts
            FROM documents
        ), UNNEST(ts) AS t(tok)
    ),
    h AS (
        SELECT doc_id, CAST('0x' || substring(md5(tok), 1, 15) AS BIGINT) AS h1
        FROM toks
    ),
    bits AS (
        SELECT doc_id,
               {bit_sums}
        FROM h GROUP BY doc_id
    )
    SELECT doc_id,
           CAST({fp} AS BIGINT) AS simhash,
           CAST(({fp}) >> {bits - 16} AS BIGINT) AS bucket16
    FROM bits
    ORDER BY doc_id
    """


@register_query("simhash_md5_certified", oracle=_simhash_md5_oracle_sql())
def simhash_md5_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash with a cross-engine proof: same TF-weighted ±1 bit-vote fold
    as simhash_fingerprints (which stays rows-only on xxhash64), but votes
    come from the 60-bit md5-derived token hash, so the oracle recomputes
    the identical fingerprint in SQL. 60 bits (not 64) keeps every shift
    inside the positive BIGINT range on both engines — hamming-distance
    semantics are unchanged, and the bucket is the fingerprint's top 16
    bits exactly as in the 64-bit form.

    Token-less (empty/whitespace-only) docs are dropped, matching the
    oracle, where UNNEST of an empty token list yields no rows — without
    the filter Spark would emit (simhash=0, bucket16=0) for such docs and
    parity would break on the first empty document in a corpus."""
    bits = 60
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = docs.select("doc_id", _tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") > 0
    )
    hashes = toks.select(
        "doc_id",
        F.transform(
            F.col("toks"),
            lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
        ).alias("hs"),
    )
    idx = F.sequence(F.lit(0), F.lit(bits - 1))
    bit_sums = F.aggregate(
        F.col("hs"),
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.transform(
            idx,
            lambda i: F.element_at(acc, i + 1)
            + F.when(
                F.call_function("shiftright", h, i).bitwiseAND(F.lit(1)) == 1,
                F.lit(1),
            ).otherwise(F.lit(-1)),
        ),
    )
    fp = F.aggregate(
        F.zip_with(
            bit_sums,
            idx,
            lambda s, i: F.when(
                s > 0, F.call_function("shiftleft", F.lit(1).cast("bigint"), i)
            ).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc.bitwiseOR(x),
    )
    return (
        hashes.select("doc_id", fp.alias("simhash"))
        .withColumn("bucket16", F.shiftrightunsigned(F.col("simhash"), bits - 16))
        .orderBy("doc_id")
    )


@register_query(
    "cc_lsh_graph", oracle=_cc_canonical_oracle_sql(graph_cte=_LSH_GRAPH_CTE)
)
def cc_lsh_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components + canonical choice over the LSH-candidate graph
    — the full-corpus scale-path composition (neardup_clusters' shape)
    hash-certified: same large-star/small-star connected_components() core,
    edges from the md5-LSH banding pipeline instead of the bounded
    all-pairs build, ground truth via DuckDB's recursive-CTE transitive
    closure over the identical pair list."""
    pairs = _md5_lsh_pairs(spark, sf_dir)
    cc = connected_components(pairs)
    return cc.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).cast("bigint").alias("is_canonical"),
    ).orderBy("doc_id")


@register_query(
    "triangle_lsh_graph", oracle=_triangle_oracle_sql(graph_cte=_LSH_GRAPH_CTE)
)
def triangle_lsh_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts + clustering coefficient over the LSH-candidate
    graph — completes the scale-path certification of the graph-motif
    family (pagerank_lsh_graph, lpa_lsh_graph, cc_lsh_graph): every graph
    operator now has a driver-checkable oracle row on edges produced by
    the production LSH pipeline, not only on the bounded demo graph."""
    return _triangles_over_pairs(_md5_lsh_pairs(spark, sf_dir))


@register_query(
    "shingle_novelty_scores",
    oracle="WITH "
    + _SHINGLES_CTE
    + """,
    first_owner AS (
        SELECT s, MIN(doc_id) AS owner FROM sh GROUP BY s
    ),
    per_doc AS (
        SELECT sh.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(SUM(CASE WHEN fo.owner = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_novel
        FROM sh JOIN first_owner fo ON fo.s = sh.s
        GROUP BY sh.doc_id
    )
    SELECT doc_id, n_shingles, n_novel,
           CAST(n_novel AS DOUBLE) / n_shingles AS novelty_ratio
    FROM per_doc
    ORDER BY doc_id
    """,
)
def shingle_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty scoring: the fraction of a doc's distinct
    shingles that NO lower-id document contains — the memorization-control
    signal a curriculum/dedup pipeline uses to downweight documents that
    are mostly re-statements of earlier corpus content (novelty_ratio near
    0 = boilerplate/duplicate; near 1 = fresh text).

    Formulated for scale as FIRST-OWNER attribution, not a pairwise join:
    one groupBy(shingle).min(doc_id) (map-side combinable; shuffle carries
    one row per distinct shingle) plus one join back — a shingle is novel
    exactly for its first owner. The naive earlier-doc LEFT JOIN would
    shuffle |sh|^2-ish rows on hot shingles; this shape is linear in the
    shingle count and skew-free (the hottest shingle is still one row
    after the min). Deterministic: pure function of (doc_id, text)."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = docs.select("doc_id", _tokens(F.col("text")).alias("toks"))
    raw = toks.select("doc_id", _shingles_raw(F.col("toks")).alias("raw"))
    sh = raw.select("doc_id", F.explode(F.array_distinct("raw")).alias("s"))
    first_owner = sh.groupBy("s").agg(F.min("doc_id").alias("owner"))
    per_doc = (
        sh.join(first_owner, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum((F.col("owner") == F.col("doc_id")).cast("int"))
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        (F.col("n_novel").cast("double") / F.col("n_shingles")).alias("novelty_ratio"),
    ).orderBy("doc_id")


_WINNOW_W = 4  # winnowing window: one fingerprint per 4 consecutive shingles
# Per-fingerprint membership cap for overlap detection: a boilerplate
# fingerprint shared by k docs fans out k^2/2 pairs, so the equi-join's
# worst case is quadratic in the hottest fingerprint's frequency. Keep the
# first (lowest-doc_id) 64 members per fp — deterministic, and REPLICATED
# IN THE ORACLE, so unlike the LSH _MAX_BUCKET caveat the cap itself is
# hash-certified cross-engine. 64 caps any single fp's fan-out at ~2k
# pairs while leaving genuine passage-overlap (shared by few docs) intact.
_WINNOW_MAX_FP_DOCS = 64


@register_query(
    "winnowing_fingerprints",
    oracle="""
    WITH sets AS (
        SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS toks
        FROM documents
    ),
    pos_sh AS (
        SELECT doc_id, u.x.pos AS pos, u.x.s AS s
        FROM (
            SELECT doc_id,
                   CASE WHEN len(toks) >= {n}
                        THEN list_transform(generate_series(1, len(toks) - {nm1}),
                                 i -> {{'pos': i,
                                       's': toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]}})
                        ELSE [] END AS ps
            FROM sets
        ), UNNEST(ps) AS u(x)
    ),
    hashed AS (
        SELECT doc_id, pos,
               CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) AS h
        FROM pos_sh
    ),
    winmin AS (
        SELECT doc_id, pos,
               MIN(h) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN {wm1} PRECEDING AND CURRENT ROW
               ) AS fp
        FROM hashed
    ),
    fps AS (
        SELECT DISTINCT doc_id, fp FROM winmin WHERE pos >= {w}
    )
    SELECT h.doc_id,
           CAST(COUNT(DISTINCT h.pos) - {wm1} AS BIGINT) AS n_windows,
           CAST((SELECT COUNT(*) FROM fps WHERE fps.doc_id = h.doc_id) AS BIGINT)
               AS n_fps
    FROM hashed h
    GROUP BY h.doc_id
    HAVING COUNT(DISTINCT h.pos) > {wm1}
    ORDER BY h.doc_id
    """.format(n=_SHINGLE_N, nm1=_SHINGLE_N - 1, w=_WINNOW_W, wm1=_WINNOW_W - 1),
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every positional shingle, keep
    the MINIMUM hash of each sliding w-window, dedupe — a guaranteed-
    coverage fingerprint set whose density is ~2/(w+1) of the shingle
    count, used for plagiarism/overlap detection where MinHash's fixed-size
    signature can miss short matches. Output: per doc, the window count
    and selected-fingerprint count (n_fps/n_windows ~ the document's local
    hash-diversity).

    md5-family hashes make the whole pipeline oracle-checkable. Scale: the
    sliding min is a per-doc ROWS window — partitioned by doc_id, so every
    document winnows independently in one pass, no cross-doc shuffle
    beyond the partition-by; fingerprint sets then feed the same
    bucket-join machinery as LSH bands (match detection = join on fp)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = docs.select("doc_id", _tokens(F.col("text")).alias("toks"))
    # posexplode child is a non-attribute expression ON PURPOSE — a plain
    # `raw` column here trips InferFiltersFromGenerate into recomputing the
    # whole shingle pipeline below the repartition on the single-split scan
    # (the pathology documented at minhash_lsh_candidates; observed again
    # as a 1-task 10 s stage in this query before this form)
    pos_sh = toks.select(
        "doc_id", F.posexplode(_shingles_raw(F.col("toks"))).alias("pos0", "s")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "s")
    hashed = pos_sh.select(
        "doc_id",
        "pos",
        F.conv(F.substring(F.md5("s"), 1, 15), 16, 10).cast("long").alias("h"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(_WINNOW_W - 1), Window.currentRow)
    )
    winmin = hashed.select("doc_id", "pos", F.min("h").over(w).alias("fp"))
    fps = (
        winmin.filter(F.col("pos") >= _WINNOW_W)
        .select("doc_id", "fp")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_fps"))
    )
    counts = hashed.groupBy("doc_id").agg(
        (F.count_distinct("pos") - (_WINNOW_W - 1)).cast("bigint").alias("n_windows")
    )
    return (
        counts.filter(F.col("n_windows") > 0)
        .join(fps, "doc_id")
        .select("doc_id", "n_windows", "n_fps")
        .orderBy("doc_id")
    )


@register_query(
    "winnowing_overlap_pairs",
    # The CTE prefix duplicates winnowing_fingerprints' oracle verbatim
    # (sets -> pos_sh -> hashed -> winmin -> fps). Keep the two in sync —
    # both are pinned by hash-exact parity tests, so any drift fails loudly.
    oracle="""
    WITH sets AS (
        SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS toks
        FROM documents
    ),
    pos_sh AS (
        SELECT doc_id, u.x.pos AS pos, u.x.s AS s
        FROM (
            SELECT doc_id,
                   CASE WHEN len(toks) >= {n}
                        THEN list_transform(generate_series(1, len(toks) - {nm1}),
                                 i -> {{'pos': i,
                                       's': toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]}})
                        ELSE [] END AS ps
            FROM sets
        ), UNNEST(ps) AS u(x)
    ),
    hashed AS (
        SELECT doc_id, pos,
               CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) AS h
        FROM pos_sh
    ),
    winmin AS (
        SELECT doc_id, pos,
               MIN(h) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN {wm1} PRECEDING AND CURRENT ROW
               ) AS fp
        FROM hashed
    ),
    fps AS (
        SELECT DISTINCT doc_id, fp FROM winmin WHERE pos >= {w}
    ),
    capped AS (
        SELECT doc_id, fp FROM (
            SELECT doc_id, fp,
                   ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
            FROM fps
        ) WHERE rn <= {cap}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS shared_fps
    FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= 2
    ORDER BY doc_a, doc_b
    """.format(
        n=_SHINGLE_N,
        nm1=_SHINGLE_N - 1,
        w=_WINNOW_W,
        wm1=_WINNOW_W - 1,
        cap=_WINNOW_MAX_FP_DOCS,
    ),
)
def winnowing_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document overlap detection from winnowing fingerprints (the
    MOSS match step): document pairs sharing >= 2 selected fingerprints,
    with the shared count as the overlap strength — localizes copied
    PASSAGES (winnowing guarantees any shared run longer than w+n-1 tokens
    yields a shared fingerprint), complementing MinHash/LSH which score
    whole-document similarity.

    Scale shape: the join key is the fingerprint value — identical to the
    LSH bucket join; fingerprint frequency is the skew axis, and a
    boilerplate fingerprint shared by k docs fans out k^2/2 pairs. A
    per-fp membership cap (_WINNOW_MAX_FP_DOCS, keep the lowest doc_ids)
    bounds that quadratic tail — same policy as _MAX_BUCKET in
    minhash_lsh_candidates, but here the cap is deterministic and
    REPLICATED IN THE ORACLE (a rank window on both engines), so the
    certified surface includes the guard, not just the algorithm."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = docs.select("doc_id", _tokens(F.col("text")).alias("toks"))
    # non-attribute generator child (see winnowing_fingerprints)
    pos_sh = toks.select(
        "doc_id", F.posexplode(_shingles_raw(F.col("toks"))).alias("pos0", "s")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "s")
    hashed = pos_sh.select(
        "doc_id",
        "pos",
        F.conv(F.substring(F.md5("s"), 1, 15), 16, 10).cast("long").alias("h"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(_WINNOW_W - 1), Window.currentRow)
    )
    fps = (
        hashed.select("doc_id", "pos", F.min("h").over(w).alias("fp"))
        .filter(F.col("pos") >= _WINNOW_W)
        .select("doc_id", "fp")
        .distinct()
    )
    # per-fp skew guard, certified by the oracle's identical rank window:
    # keep the lowest _WINNOW_MAX_FP_DOCS doc_ids per fingerprint so one
    # boilerplate fp can't fan out quadratically in the equi-join below
    by_fp = Window.partitionBy("fp").orderBy("doc_id")
    capped = (
        fps.withColumn("rn", F.row_number().over(by_fp))
        .filter(F.col("rn") <= _WINNOW_MAX_FP_DOCS)
        .drop("rn")
    )
    a = capped.select(F.col("doc_id").alias("doc_a"), "fp")
    b = capped.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, ["fp"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_fps"))
        .filter(F.col("shared_fps") >= 2)
        .orderBy("doc_a", "doc_b")
    )


@register_query(
    "dedup_incremental_new_vs_base",
    oracle="""
    WITH base AS (
        SELECT md5(lower(trim(text))) AS h, MIN(doc_id) AS base_doc
        FROM documents WHERE doc_id < 250
        GROUP BY md5(lower(trim(text)))
    ),
    new_docs AS (
        SELECT doc_id, md5(lower(trim(text))) AS h
        FROM documents WHERE doc_id >= 250
    )
    SELECT
        n.doc_id,
        CAST(b.h IS NOT NULL AS BIGINT) AS dup_of_base,
        b.base_doc
    FROM new_docs n LEFT JOIN base b ON n.h = b.h
    ORDER BY n.doc_id
    """,
)
def dedup_incremental_new_vs_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup: flag each NEWLY ingested document whose
    normalized content digest already exists in the base corpus, keeping a
    pointer to the canonical base doc — the daily-crawl pattern where the
    100 TB base is never rescanned per batch (its digest index is the only
    thing consulted). The doc_id split (<250 base, >=250 new) stands in
    for the snapshot boundary.

    Scale shape: the base side reduces to (digest, min_doc) — ~48 B per
    DISTINCT base document — so the join is new-batch-sized vs a digest
    index; with a daily batch in the GBs and a digest index in the tens of
    GBs this is a standard shuffle join on the digest (or a broadcast when
    the index is partitioned/bloom-pruned per shard). The base index is
    exactly dedup_exact's output — in production it is maintained
    incrementally (append new digests after each batch), never recomputed."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.lower(F.trim(F.col("text"))).cast("binary"))
    base = (
        docs.filter(F.col("doc_id") < 250)
        .select(h.alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("base_doc"))
    )
    new_docs = docs.filter(F.col("doc_id") >= 250).select("doc_id", h.alias("h"))
    return (
        new_docs.join(base, "h", "left")
        .select(
            "doc_id",
            F.col("base_doc").isNotNull().cast("bigint").alias("dup_of_base"),
            "base_doc",
        )
        .orderBy("doc_id")
    )


@register_query(
    "cluster_lang_purity",
    oracle="""
    WITH RECURSIVE """
    + _LSH_GRAPH_CTE
    + """,
    nodes AS (
        SELECT DISTINCT doc_a AS node FROM pairs
        UNION
        SELECT DISTINCT doc_b AS node FROM pairs
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(node, r) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.dst, reach.r FROM edges e JOIN reach ON reach.node = e.src
    ),
    clusters AS (
        SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node
    ),
    by_lang AS (
        SELECT c.cluster_id, d.lang, COUNT(*) AS n
        FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
        GROUP BY c.cluster_id, d.lang
    ),
    ranked AS (
        SELECT cluster_id, lang, n,
               SUM(n) OVER (PARTITION BY cluster_id) AS total,
               ROW_NUMBER() OVER (
                   PARTITION BY cluster_id ORDER BY n DESC, lang
               ) AS rn
        FROM by_lang
    )
    SELECT
        CAST(cluster_id AS BIGINT) AS cluster_id,
        CAST(total AS BIGINT) AS n_docs,
        lang AS top_lang,
        CAST(n AS BIGINT) AS top_lang_n,
        CAST(n AS DOUBLE) / total AS purity
    FROM ranked WHERE rn = 1
    ORDER BY cluster_id
    """,
)
def cluster_lang_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language purity of near-duplicate clusters — the dedup QA metric
    that catches tokenization-induced false merges: a genuine duplication
    family is monolingual (purity 1.0), so low-purity clusters flag hash
    collisions, boilerplate bridges, or translated near-copies needing a
    different policy. Composes the certified scale-path pieces end-to-end:
    md5-LSH candidate edges -> connected components -> per-cluster
    majority vote (deterministic min-lang tie-break), all hash-checked
    against the recursive-CTE oracle.

    Scale: clusters come from the same O(log d)-round CC as
    neardup_clusters; the purity pass is one (cluster, lang) count + a
    per-cluster window over at most |langs| rows per cluster."""
    from pyspark.sql.window import Window

    pairs = _md5_lsh_pairs(spark, sf_dir)
    cc = connected_components(pairs)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    by_lang = (
        cc.join(docs, "doc_id")
        .groupBy("cluster_id", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wt = Window.partitionBy("cluster_id")
    wr = Window.partitionBy("cluster_id").orderBy(F.desc("n"), F.asc("lang"))
    return (
        by_lang.select(
            "cluster_id",
            "lang",
            "n",
            F.sum("n").over(wt).alias("total"),
            F.row_number().over(wr).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("cluster_id").cast("bigint").alias("cluster_id"),
            F.col("total").cast("bigint").alias("n_docs"),
            F.col("lang").alias("top_lang"),
            F.col("n").cast("bigint").alias("top_lang_n"),
            (F.col("n").cast("double") / F.col("total")).alias("purity"),
        )
        .orderBy("cluster_id")
    )


_BFS_SEEDS = 5  # seed set: doc_id < 5
_BFS_K = 4  # hop bound


@register_query(
    "bfs_khop_lsh_graph",
    oracle="WITH RECURSIVE "
    + _LSH_GRAPH_CTE
    + f""",
    sym AS MATERIALIZED (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    bfs AS (
        SELECT doc_id, 0 AS hops FROM documents WHERE doc_id < {_BFS_SEEDS}
        UNION
        SELECT s.dst AS doc_id, b.hops + 1 AS hops
        FROM bfs b JOIN sym s ON s.src = b.doc_id
        WHERE b.hops < {_BFS_K}
    )
    SELECT doc_id, CAST(MIN(hops) AS BIGINT) AS hops
    FROM bfs GROUP BY doc_id ORDER BY doc_id
    """,
)
def bfs_khop_lsh_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-hop BFS reachability (min-hop distance) from a seed set over the
    LSH-candidate near-dup graph — the "contamination blast radius" query:
    if these seed documents are known-bad (eval-set leaks, spam clusters),
    every doc within K near-dup hops is transitively suspect. Completes
    the graph family (PageRank / LPA / CC / triangles) with the one motif
    it lacked: distance-bounded traversal.

    Frontier BFS, the Pregel pattern: each round joins the current
    frontier against the symmetrized edge list, anti-joins out already-
    reached nodes (so a node keeps its MINIMUM hop count), and unions the
    new frontier into the reached set — K bounded rounds, lineage cut per
    round (connected_components discipline; the plan-exchange gate in
    test_plans covers it). Ground truth: DuckDB computes the same
    min-hop distances with a bounded recursive CTE over the identical
    md5-LSH edge list — the first traversal certified end-to-end against
    a recursive oracle.

    Scale: each round shuffles only (frontier x avg-degree) rows — the
    frontier is a vanishing fraction of the corpus after round 1 on a
    near-dup graph (components are small by construction; the LSH bucket
    caps bound degree). The reached set grows monotonically but stays
    keyed by doc_id for the anti-join; at 100 TB this is the standard
    iterative-join BFS every Pregel/GraphX engine runs, expressed as
    DataFrame ops with per-round checkpoints."""
    pairs = _md5_lsh_pairs(spark, sf_dir)
    sym = cut_lineage(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
    )
    seeds = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _BFS_SEEDS)
        .select("doc_id", F.lit(0).cast("bigint").alias("hops"))
    )
    reached = cut_lineage(seeds)
    frontier = reached.select("doc_id")
    for k in range(1, _BFS_K + 1):
        nxt = cut_lineage(
            frontier.join(sym, frontier["doc_id"] == sym["src"])
            .select(F.col("dst").alias("doc_id"))
            .distinct()
            .join(reached.select("doc_id"), "doc_id", "left_anti")
            .select("doc_id", F.lit(k).cast("bigint").alias("hops"))
        )
        reached = cut_lineage(reached.unionByName(nxt))
        frontier = nxt.select("doc_id")
    return reached.orderBy("doc_id")


# ---------------------------------------------------------------------------
# Entity resolution end-to-end (round 8, continued)
# ---------------------------------------------------------------------------

_ER_GRAPH_CTE = """pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM (SELECT doc_id, source, lang, split_part(text, ' ', 1) AS w1,
                     substr(text, 1, 30) AS p
              FROM documents) a
        JOIN (SELECT doc_id, source, lang, split_part(text, ' ', 1) AS w1,
                     substr(text, 1, 30) AS p
              FROM documents) b
          ON a.source = b.source AND a.lang = b.lang AND a.w1 = b.w1
         AND a.doc_id < b.doc_id
        WHERE levenshtein(a.p, b.p) <= 18
    )"""

_ER_ORACLE = """
    WITH RECURSIVE """ + _ER_GRAPH_CTE + """,
    nodes AS (
        SELECT DISTINCT doc_a AS node FROM pairs
        UNION
        SELECT DISTINCT doc_b AS node FROM pairs
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(node, r) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.dst, reach.r FROM edges e JOIN reach ON reach.node = e.src
    ),
    comp AS (
        SELECT node AS doc_id, CAST(MIN(r) AS BIGINT) AS entity_id
        FROM reach GROUP BY node
    )
    SELECT doc_id, entity_id,
           CAST(doc_id = entity_id AS BIGINT) AS is_canonical,
           CAST(COUNT(*) OVER (PARTITION BY entity_id) AS BIGINT) AS entity_size
    FROM comp
"""


@register_query("entity_resolution_pipeline", oracle=_ER_ORACLE)
def entity_resolution_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution END-TO-END: blocking (same source+lang+first
    token — content-adaptive key, see levenshtein_block_pairs) ->
    character-level match scoring (thresholded Levenshtein on prefixes,
    the levenshtein_block_pairs plan) -> transitive closure (the same
    large-star/small-star connected_components the dedup family runs) ->
    canonical-record choice (min doc_id) with entity sizes — the classic
    record-linkage pipeline (Fellegi-Sunter blocking + match + merge)
    composed from certified operators in ONE plan. The DuckDB oracle
    recomputes the closure independently with a recursive CTE, so the
    hash match certifies blocking, matching, clustering, and survivorship
    together.

    Scale: inherits each stage's shape — per-block equi-join pair
    generation (no all-pairs), the closure as ONE per-block union-find
    pass (round-16 opt: edges cannot span blocks, so the ~15-job
    large/small-star loop collapses to one shuffle + one Arrow task per
    block — see _cc_within_blocks), and a size window over entities
    (entity-sized, not corpus-sized)."""
    from pyspark.sql.window import Window

    pairs = levenshtein_block_pairs(spark, sf_dir, with_block=True)
    cc = _cc_within_blocks(pairs, ["source", "lang", "w1"])
    w = Window.partitionBy("cluster_id")
    return cc.select(
        "doc_id",
        F.col("cluster_id").alias("entity_id"),
        (F.col("doc_id") == F.col("cluster_id")).cast("bigint").alias("is_canonical"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("entity_size"),
    )


@register_query(
    "cross_source_dup_matrix",
    oracle="""
    WITH g AS (
        SELECT md5(array_to_string(list_sort(list_distinct(
                   list_filter(string_split(text, ' '), w -> w <> ''))), ' '))
                   AS dig,
               source,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY 1, 2
    ),
    x AS (
        SELECT a.dig, a.source AS source_a, b.source AS source_b,
               CASE WHEN a.source = b.source THEN a.c * (a.c - 1) // 2
                    ELSE a.c * b.c END AS np
        FROM g a JOIN g b ON a.dig = b.dig AND a.source <= b.source
    )
    SELECT source_a, source_b,
           CAST(SUM(np) AS BIGINT) AS n_dup_pairs,
           CAST(COUNT(DISTINCT dig) AS BIGINT) AS n_shared_digests
    FROM x
    WHERE np > 0
    GROUP BY source_a, source_b
    """,
)
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHO copies from WHOM: the source x source duplicate matrix at the
    CANONICAL TOKEN-SET grain (bag-of-words-identical documents — the
    tokenset_jaccard = 1.0 case, which catches reorderings byte-exact
    dedup misses and which this corpus actually contains) — for every
    canonical digest, how many duplicate pairs land within one source
    (c choose 2) or across a source pair (c_a * c_b). The mirror-site /
    scraper-loop diagnostic a corpus curator reads before deciding which
    source to drop; complements dedup_exact (which picks keepers) with
    the provenance view.

    Scale: NO pair explosion — the matrix comes from per-(digest, source)
    COUNTS (partial-agg map-side), and the self-join on digest carries
    only those count rows, so a million-way duplicate group costs one row
    per source, not 10^12 pairs. Pure integer arithmetic throughout."""
    docs = load_table(spark, sf_dir, "documents")
    canon = F.md5(
        F.concat_ws(
            " ", F.array_sort(F.array_distinct(_tokens(F.col("text"))))
        ).cast("binary")
    )
    g = docs.groupBy(canon.alias("dig"), "source").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    a = g.select("dig", F.col("source").alias("source_a"), F.col("c").alias("ca"))
    b = g.select("dig", F.col("source").alias("source_b"), F.col("c").alias("cb"))
    x = a.join(b, ["dig"]).filter(F.col("source_a") <= F.col("source_b")).select(
        "dig",
        "source_a",
        "source_b",
        F.when(
            F.col("source_a") == F.col("source_b"),
            F.expr("ca * (ca - 1) div 2"),
        )
        .otherwise(F.col("ca") * F.col("cb"))
        .alias("np"),
    )
    return (
        x.filter(F.col("np") > 0)
        .groupBy("source_a", "source_b")
        .agg(
            F.sum("np").cast("long").alias("n_dup_pairs"),
            F.count_distinct("dig").alias("n_shared_digests"),
        )
    )


_PRC_BOUND = 500  # audit subset: covers the full sf0.01 corpus


@register_query(
    "lsh_precision_recall_contract",
    oracle="WITH " + _LSH_GRAPH_CTE + f""",
    sub AS (
        SELECT doc_a, doc_b FROM pairs
        WHERE doc_a < {_PRC_BOUND} AND doc_b < {_PRC_BOUND}
    ),
    shb AS (
        SELECT doc_id,
               list_distinct(
                   CASE WHEN len(toks) >= {_SHINGLE_N}
                        THEN list_transform(
                                 generate_series(1, len(toks) - {_SHINGLE_N - 1}),
                                 i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
                        ELSE [] END) AS ss
        FROM (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), w -> w <> '') AS toks
            FROM documents WHERE doc_id < {_PRC_BOUND}
        )
    ),
    neb AS (SELECT doc_id, ss FROM shb WHERE len(ss) > 0),
    eb AS (SELECT doc_id, UNNEST(ss) AS s FROM neb),
    szb AS (SELECT doc_id, len(ss) AS n FROM neb),
    co AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM eb a JOIN eb b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    truep AS (
        SELECT co.doc_a, co.doc_b
        FROM co JOIN szb x ON x.doc_id = co.doc_a
                JOIN szb y ON y.doc_id = co.doc_b
        WHERE CAST(c AS DOUBLE) / (x.n + y.n - c) >= 0.5
    ),
    hit AS (
        SELECT t.doc_a, t.doc_b FROM truep t JOIN sub s
          ON s.doc_a = t.doc_a AND s.doc_b = t.doc_b
    )
    SELECT
        CAST((SELECT COUNT(*) FROM truep) AS BIGINT) AS n_true,
        CAST((SELECT COUNT(*) FROM sub) AS BIGINT) AS n_lsh,
        CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_hit,
        CASE WHEN (SELECT COUNT(*) FROM sub) = 0 THEN NULL
             ELSE CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
                  / CAST((SELECT COUNT(*) FROM sub) AS DOUBLE) END AS precision,
        CASE WHEN (SELECT COUNT(*) FROM truep) = 0 THEN NULL
             ELSE CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
                  / CAST((SELECT COUNT(*) FROM truep) AS DOUBLE) END AS recall
    """,
)
def lsh_precision_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRECISION/RECALL contract for the production MinHash-LSH near-dup
    index — the dedup-side analog of the nine ANN recall contracts: over
    the bounded audit subset (doc_id < _PRC_BOUND = 500), the banded-LSH verified
    pairs are scored against the EXACT shingle-Jaccard >= 0.5 ground
    truth, emitting (n_true, n_lsh, n_hit, precision, recall) as one
    certified row. This is the measurement that justifies trusting LSH
    candidates at 100 TB where the exact all-pairs check is impossible:
    the index's own quality is a hash-certified quantity, re-proven
    every round. Empty sides emit NULL ratios, never 0/0.

    Scale shape: the LSH side is the full production pipeline (shingle
    explode -> partial-agg minhash -> band-bucket shuffle -> verify),
    restricted AFTER the fact to the audit subset; the exact side avoids
    all-pairs entirely — shared-shingle explode-join (only pairs with a
    common shingle materialize) + per-doc size join, the
    source_ngram_overlap grain; the three counts cross a 1-row broadcast
    each."""
    lsh = _md5_lsh_pairs(spark, sf_dir).filter(
        (F.col("doc_a") < _PRC_BOUND) & (F.col("doc_b") < _PRC_BOUND)
    )
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _PRC_BOUND
    )
    toks = docs.select("doc_id", _tokens(F.col("text")).alias("toks"))
    sh = toks.select(
        "doc_id", F.array_distinct(_shingles_raw(F.col("toks"))).alias("ss")
    ).filter(F.size("ss") > 0)
    e = sh.select("doc_id", F.explode("ss").alias("s"))
    sz = sh.select("doc_id", F.size("ss").alias("n"))
    ea = e.select(F.col("doc_id").alias("doc_a"), "s")
    ebb = e.select(F.col("doc_id").alias("doc_b"), "s")
    co = (
        ea.join(ebb, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    truep = (
        co.join(sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .filter(
            F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))
            >= 0.5
        )
        .select("doc_a", "doc_b")
    )
    hit = truep.join(lsh, ["doc_a", "doc_b"])
    stats = (
        truep.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
        .crossJoin(F.broadcast(lsh.agg(F.count(F.lit(1)).cast("long").alias("n_lsh"))))
        .crossJoin(F.broadcast(hit.agg(F.count(F.lit(1)).cast("long").alias("n_hit"))))
    )
    return stats.select(
        "n_true",
        "n_lsh",
        "n_hit",
        F.when(F.col("n_lsh") == 0, F.lit(None).cast("double"))
        .otherwise(F.col("n_hit").cast("double") / F.col("n_lsh").cast("double"))
        .alias("precision"),
        F.when(F.col("n_true") == 0, F.lit(None).cast("double"))
        .otherwise(F.col("n_hit").cast("double") / F.col("n_true").cast("double"))
        .alias("recall"),
    )


# ---------------------------------------------------------------------------
# Sparse tf-idf cosine near-dup pairs (round 11)
# ---------------------------------------------------------------------------

_SPARSE_DF_MIN = 2  # a df=1 shingle can't witness a pair
# Posting-list prune ceiling: "rare" = df <= GREATEST(5, N // 100), i.e.
# shingles seen in at most ~1% of documents, floored at the historical
# absolute 5 so driver-scale hashes are unchanged (N = 500 -> thr = 5).
# Corpus-RELATIVE per r11 verdict ticket #3: the absolute band emptied as
# the corpus grew, which inverted the 10x scaling measurement.
_SPARSE_DF_MAX = 5
_SPARSE_DF_DIV = 100
_SPARSE_TAU = 0.5  # weighted-cosine near-dup gate


@register_query(
    "sparse_tfidf_cosine_pairs",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), w -> w <> '') AS t
        FROM documents
    ),
    sh AS (
        SELECT doc_id, UNNEST(list_transform(
                   generate_series(1, len(t) - {_SHINGLE_N - 1}),
                   i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS s
        FROM toks WHERE len(t) >= {_SHINGLE_N}
    ),
    tf AS (
        SELECT doc_id, s, CAST(COUNT(*) AS BIGINT) AS tf
        FROM sh GROUP BY doc_id, s
    ),
    df AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY s),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    post AS (
        SELECT tf.doc_id, tf.s, df.df,
               tf.tf * CAST(pow(2, LEAST(20,
                   length(bin((nd.n + 1) // (df.df + 1))) - 1)) AS BIGINT) AS w
        FROM tf JOIN df USING (s) CROSS JOIN nd
    ),
    nrm AS (
        SELECT doc_id,
               sqrt(CAST(SUM(CAST(w * w AS DECIMAL(30,0))) AS DOUBLE)) AS nrm
        FROM post GROUP BY doc_id
    ),
    rare AS (
        SELECT s FROM df
        WHERE df BETWEEN {_SPARSE_DF_MIN}
              AND {corpus_relative_thr_sql("documents", _SPARSE_DF_MAX, _SPARSE_DF_DIV)}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM post a JOIN rare USING (s) JOIN post b USING (s)
        WHERE a.doc_id < b.doc_id
    ),
    dots AS (
        SELECT c.doc_a, c.doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared,
               SUM(CAST(pa.w * pb.w AS DECIMAL(30,0))) AS dot
        FROM cand c
        JOIN post pa ON pa.doc_id = c.doc_a
        JOIN post pb ON pb.doc_id = c.doc_b AND pb.s = pa.s
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT d.doc_a, d.doc_b, d.n_shared,
           CAST(d.dot AS DOUBLE) / (na.nrm * nb.nrm) AS cosine
    FROM dots d
    JOIN nrm na ON na.doc_id = d.doc_a
    JOIN nrm nb ON nb.doc_id = d.doc_b
    WHERE CAST(d.dot AS DOUBLE) / (na.nrm * nb.nrm) >= {_SPARSE_TAU}
    """,
)
def sparse_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED sparse near-duplicate pairs — tf-idf cosine over shingle
    count vectors, the sparse-retrieval complement of both the set-based
    detectors (Jaccard/MinHash ignore multiplicity and weighting) and the
    dense ANN family (no embeddings needed): two documents score high
    when they share RARE shingles often, which is precisely the
    paraphrase-with-shared-phrases signature tf-idf was built for.

    Candidate generation is the Lucene/posting-list prune: only shingles
    with df in [2, 5] (corpus-rare) may WITNESS a pair, so the self-join
    runs over pruned posting lists and all-pairs never materializes; the
    exact cosine is then accumulated over ALL shared shingles of each
    surviving pair via two keyed joins (pair x posting, never doc x doc).
    Exactness: idf is WHOLE-BIT — 2^min(20, floor(log2((N+1) div (df+1))))
    via length(bin()) (the bigram_lm_surprisal trick; a double-valued idf
    put the dot through the double->decimal cast, which drifted 1 ulp
    between engines) — so the weights are pure BIGINTs, every dot/norm
    term is an exact integer summed through DECIMAL(30,0), and the cosine
    is correctly-rounded double ops over identical integers: bit-identical
    on both engines. Per-term overflow bound: w <= doc_len * 2^20, so
    w*w needs doc_len <= 2^11 tokens; chunk longer docs or lower the
    idf cap (overflow-ledger discipline).

    Scale: tf/df are partial-aggregated shuffles on (doc, shingle) /
    shingle; the candidate join is bounded by the df cap (a df<=thr
    shingle contributes <= thr*(thr-1)/2 pairs); the dot join ships each
    candidate pair's postings once. The cap itself is CORPUS-RELATIVE —
    thr = GREATEST(5, N // 100) via the shared
    functions/thresholds.py helper, derived from COUNT(*) in both
    engines — so "rare" keeps meaning "~1% of documents" at any N and
    the band can never empty out as the corpus grows. The idf table is
    the same broadcast the BM25 ranker already uses."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", _tokens(F.col("text")).alias("t"))
    sh = toks.select(
        "doc_id", F.explode(_shingles_raw(F.col("t"))).alias("s")
    )
    tf = sh.groupBy("doc_id", "s").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    df = tf.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("df"))
    nd = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    shift = F.least(
        F.lit(20),
        F.length(F.bin(F.expr("(n + 1) div (df + 1)"))) - 1,
    )
    post = (
        tf.join(df, "s")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "s",
            "df",
            (F.col("tf") * F.pow(F.lit(2), shift).cast("bigint")).alias("w"),
        )
    )
    nrm = post.groupBy("doc_id").agg(
        F.sqrt(
            F.sum((F.col("w") * F.col("w")).cast("decimal(30,0)")).cast("double")
        ).alias("nrm")
    )
    thr = corpus_relative_thr(docs, _SPARSE_DF_MAX, _SPARSE_DF_DIV)
    rare = (
        df.crossJoin(F.broadcast(thr))
        .filter((F.col("df") >= _SPARSE_DF_MIN) & (F.col("df") <= F.col("thr")))
        .select("s")
    )
    pa = post.select(F.col("doc_id").alias("doc_a"), "s")
    pb = post.select(F.col("doc_id").alias("doc_b"), "s")
    cand = (
        pa.join(rare, "s")
        .join(pb, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    dots = (
        cand.join(
            post.select(F.col("doc_id").alias("doc_a"), "s", F.col("w").alias("wa")),
            "doc_a",
        )
        .join(
            post.select(F.col("doc_id").alias("doc_b"), "s", F.col("w").alias("wb")),
            ["doc_b", "s"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared"),
            F.sum((F.col("wa") * F.col("wb")).cast("decimal(30,0)")).alias("dot"),
        )
    )
    cos = F.col("dot").cast("double") / (F.col("na") * F.col("nb"))
    return (
        dots.join(nrm.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na")), "doc_a")
        .join(nrm.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb")), "doc_b")
        .select("doc_a", "doc_b", "n_shared", cos.alias("cosine"))
        .filter(F.col("cosine") >= _SPARSE_TAU)
    )


# ---------------------------------------------------------------------------
# Shingle containment pairs (round 11): the ASYMMETRIC partial-dup detector
# ---------------------------------------------------------------------------

_CONTAIN_TAU = 0.8  # containment gate: |A∩B| / |A| for the smaller side


@register_query(
    "shingle_containment_pairs",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), w -> w <> '') AS t
        FROM documents
    ),
    sh AS (
        SELECT doc_id, list_distinct(list_transform(
                   generate_series(1, len(t) - {_SHINGLE_N - 1}),
                   i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS ss
        FROM toks WHERE len(t) >= {_SHINGLE_N}
    ),
    e AS (SELECT doc_id, UNNEST(ss) AS s FROM sh WHERE len(ss) > 0),
    sz AS (SELECT doc_id, CAST(len(ss) AS BIGINT) AS n FROM sh WHERE len(ss) > 0),
    co AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT co.doc_a, co.doc_b, co.c,
               x.n AS na, y.n AS nb,
               CAST(co.c AS DOUBLE) / x.n AS contain_a,
               CAST(co.c AS DOUBLE) / y.n AS contain_b
        FROM co JOIN sz x ON x.doc_id = co.doc_a
                JOIN sz y ON y.doc_id = co.doc_b
    )
    SELECT doc_a, doc_b, c AS n_shared, na, nb, contain_a, contain_b
    FROM scored
    WHERE contain_a >= {_CONTAIN_TAU} OR contain_b >= {_CONTAIN_TAU}
    """,
)
def shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC partial-duplicate detection by shingle CONTAINMENT —
    |A∩B| / |A| — the measure Jaccard structurally misses: a short
    document wholly quoted inside a much longer one has Jaccard
    |A|/|B| ~ 0 but containment 1.0, and quote-expansion / boilerplate-
    wrapping / page-concatenation dups are exactly that shape (Broder's
    original resemblance-vs-containment distinction). Emits both
    directions' containment with the shared-shingle count and both set
    sizes, gated on either side clearing 0.8 — the curation verdict is
    then direction-aware (drop the contained side, keep the container).

    Exactness: counts are BIGINT, each containment is one exact-int
    double division — bit-identical on both engines.

    Scale: pair generation is the shared-shingle explode-join (only
    pairs with a common shingle materialize — the source_ngram_overlap /
    LSH-truth grain), then two size joins; never all-pairs. At 100 TB
    the co-occurrence join is bounded the same way the boilerplate pass
    is: a CM/df prefilter drops ubiquitous shingles from the JOIN KEY
    set (a shingle shared by k docs contributes k(k-1)/2 pair rows), and
    the exact containment is verified only on surviving candidates —
    same plan, prefiltered key set."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", _tokens(F.col("text")).alias("toks"))
    sh = toks.select(
        "doc_id", F.array_distinct(_shingles_raw(F.col("toks"))).alias("ss")
    ).filter(F.size("ss") > 0)
    e = sh.select("doc_id", F.explode("ss").alias("s"))
    sz = sh.select("doc_id", F.size("ss").cast("long").alias("n"))
    co = (
        e.select(F.col("doc_id").alias("doc_a"), "s")
        .join(e.select(F.col("doc_id").alias("doc_b"), "s"), "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    scored = (
        co.join(sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("c").alias("n_shared"),
            "na",
            "nb",
            (F.col("c").cast("double") / F.col("na")).alias("contain_a"),
            (F.col("c").cast("double") / F.col("nb")).alias("contain_b"),
        )
    )
    return scored.filter(
        (F.col("contain_a") >= _CONTAIN_TAU) | (F.col("contain_b") >= _CONTAIN_TAU)
    )


# ---------------------------------------------------------------------------
# Dedup savings report (round 11)
# ---------------------------------------------------------------------------


@register_query(
    "doc_dup_inflation_report",
    oracle="""
    WITH d AS (
        SELECT doc_id, source, md5(text) AS digest,
               CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
                   AS BIGINT) AS n_tokens
        FROM documents
    ),
    canon AS (SELECT digest, MIN(doc_id) AS canon_id FROM d GROUP BY digest)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id <> canon_id THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN doc_id <> canon_id THEN n_tokens ELSE 0 END)
               AS BIGINT) AS dup_tokens,
           CASE WHEN SUM(n_tokens)
                     - SUM(CASE WHEN doc_id <> canon_id THEN n_tokens ELSE 0 END) = 0
                THEN NULL
                ELSE CAST(SUM(n_tokens) AS DOUBLE)
                     / CAST(SUM(n_tokens) - SUM(CASE WHEN doc_id <> canon_id
                            THEN n_tokens ELSE 0 END) AS BIGINT)
           END AS inflation
    FROM d JOIN canon USING (digest)
    GROUP BY source
    """,
)
def doc_dup_inflation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source DEDUP SAVINGS report — the capacity-planning readout a
    100 TB pipeline publishes before running the expensive dedup pass:
    for each source, how many of its rows are byte-exact copies of an
    earlier document (canonical = global min doc_id per digest, the
    dedup_exact rule) and how many training tokens the copies inflate
    the corpus by. `inflation` = total/unique token ratio — the factor a
    source's effective epoch count is silently multiplied by if dups are
    left in (the data-repetition literature's concern, measured per
    source). NULL inflation when a source is all-dup (empty unique side).

    Exactness: md5 digests, BIGINT counts, one exact-int double division.

    Scale: one digest shuffle for the canonical map (digests, not docs,
    cross it after partial-agg), one digest-keyed join back, one
    per-source partial aggregate. Strictly cheaper than the dedup it
    forecasts."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        F.md5(F.col("text")).alias("digest"),
        F.size(_tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    canon = d.groupBy("digest").agg(F.min("doc_id").alias("canon_id"))
    j = d.join(canon, "digest")
    is_dup = (F.col("doc_id") != F.col("canon_id")).cast("long")
    agg = j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(is_dup).cast("long").alias("n_dup_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum(F.col("n_tokens") * is_dup).cast("long").alias("dup_tokens"),
    )
    uniq = F.col("total_tokens") - F.col("dup_tokens")
    return agg.select(
        "source",
        "n_docs",
        "n_dup_docs",
        "total_tokens",
        "dup_tokens",
        F.when(uniq == 0, F.lit(None).cast("double"))
        .otherwise(F.col("total_tokens").cast("double") / uniq)
        .alias("inflation"),
    )


# ---------------------------------------------------------------------------
# Cross-lingual contamination (round 11)
# ---------------------------------------------------------------------------

_XLANG_TAU = 0.5  # shingle-Jaccard gate across language buckets


@register_query(
    "cross_lingual_contamination",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang,
               list_filter(string_split(text, ' '), w -> w <> '') AS t
        FROM documents
    ),
    sh AS (
        SELECT doc_id, lang, list_distinct(list_transform(
                   generate_series(1, len(t) - {_SHINGLE_N - 1}),
                   i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS ss
        FROM toks WHERE len(t) >= {_SHINGLE_N}
    ),
    e AS (SELECT doc_id, lang, UNNEST(ss) AS s FROM sh WHERE len(ss) > 0),
    sz AS (SELECT doc_id, CAST(len(ss) AS BIGINT) AS n FROM sh WHERE len(ss) > 0),
    co AS (
        SELECT a.doc_id AS doc_a, a.lang AS lang_a,
               b.doc_id AS doc_b, b.lang AS lang_b,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM e a JOIN e b
          ON a.s = b.s AND a.doc_id < b.doc_id AND a.lang <> b.lang
        GROUP BY 1, 2, 3, 4
    )
    SELECT co.doc_a, co.lang_a, co.doc_b, co.lang_b,
           CAST(co.c AS DOUBLE) / (x.n + y.n - co.c) AS jaccard
    FROM co JOIN sz x ON x.doc_id = co.doc_a
            JOIN sz y ON y.doc_id = co.doc_b
    WHERE CAST(co.c AS DOUBLE) / (x.n + y.n - co.c) >= {_XLANG_TAU}
    """,
)
def cross_lingual_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-LANGUAGE duplicate detection: near-identical documents filed
    under DIFFERENT language labels — in a real crawl these are
    lang-ID errors, untranslated boilerplate, or code/math pages that
    defeat the language classifier, and they poison per-language mixture
    weights (the same bytes get counted in two buckets) and per-language
    dedup (which typically runs within a bucket and never sees the
    pair). Same shingle-Jaccard grain as the dedup family, restricted to
    lang_a <> lang_b pairs; emits both labels so the fix (relabel or
    drop) is direct.

    Scale: the shared-shingle explode-join with the cross-lang predicate
    pushed INTO the join — within-language pairs (the vast majority)
    never materialize; then two size joins; never all-pairs. The 100 TB
    prefilter is the same df-cap as shingle_containment_pairs."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "lang", _tokens(F.col("text")).alias("toks"))
    sh = toks.select(
        "doc_id",
        "lang",
        F.array_distinct(_shingles_raw(F.col("toks"))).alias("ss"),
    ).filter(F.size("ss") > 0)
    e = sh.select("doc_id", "lang", F.explode("ss").alias("s"))
    sz = sh.select("doc_id", F.size("ss").cast("long").alias("n"))
    ea = e.select(F.col("doc_id").alias("doc_a"), F.col("lang").alias("lang_a"), "s")
    eb = e.select(F.col("doc_id").alias("doc_b"), F.col("lang").alias("lang_b"), "s")
    co = (
        ea.join(eb, "s")
        .filter((F.col("doc_a") < F.col("doc_b")) & (F.col("lang_a") != F.col("lang_b")))
        .groupBy("doc_a", "lang_a", "doc_b", "lang_b")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    jac = F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        co.join(sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .select("doc_a", "lang_a", "doc_b", "lang_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= _XLANG_TAU)
    )


# ---------------------------------------------------------------------------
# Prefix-filtered exact Jaccard join (PPJoin-lite, round 11)
# ---------------------------------------------------------------------------

_PFX_TAU = 0.8  # Jaccard threshold


@register_query(
    "prefix_filter_jaccard_pairs",
    oracle="WITH "
    + _SHINGLES_CTE
    + f""",
    dfx AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY s),
    sized AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id
    ),
    ranked AS (
        SELECT h.doc_id, h.s, z.sz,
               ROW_NUMBER() OVER (
                   PARTITION BY h.doc_id ORDER BY d.df, h.s
               ) AS rk
        FROM sh h JOIN dfx d USING (s) JOIN sized z USING (doc_id)
    ),
    prefix AS (
        SELECT doc_id, s, sz FROM ranked
        WHERE rk <= sz - CAST(ceil({_PFX_TAU} * sz) AS BIGINT) + 1
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM prefix a JOIN prefix b ON a.s = b.s AND a.doc_id < b.doc_id
        -- PPJoin length filter: J(x,y) >= tau forces tau*|x| <= |y| (and
        -- symmetrically), so size-incompatible prefix collisions are cut
        -- before verification; exactness-preserving by the same theorem
        WHERE b.sz >= CAST(ceil({_PFX_TAU} * a.sz) AS BIGINT)
          AND a.sz >= CAST(ceil({_PFX_TAU} * b.sz) AS BIGINT)
    ),
    ver AS (
        SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT v.doc_a, v.doc_b, v.n_shared,
           x.sz AS sz_a, y.sz AS sz_b,
           CAST(v.n_shared AS DOUBLE)
             / CAST(x.sz + y.sz - v.n_shared AS DOUBLE) AS jaccard
    FROM ver v
    JOIN sized x ON v.doc_a = x.doc_id
    JOIN sized y ON v.doc_b = y.doc_id
    WHERE CAST(v.n_shared AS DOUBLE)
            / CAST(x.sz + y.sz - v.n_shared AS DOUBLE) >= {_PFX_TAU}
    ORDER BY doc_a, doc_b
    """,
)
def prefix_filter_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity join with PREFIX FILTERING (the PPJoin family
    — Chaudhuri/Ganti/Kaushik ICDE'06, Xiao et al. WWW'08): the third
    candidate-generation strategy on the shingle-set space, alongside the
    probabilistic MinHash/LSH banding and the df-band cosine prune.
    Principle (downward closure of overlap): two sets with Jaccard >= tau
    MUST share at least one element among each set's |x| - ceil(tau*|x|)
    + 1 RAREST elements (global-df order, the canonical token order) — so
    only prefix-token co-occurrence generates candidates, and the exact
    Jaccard verify runs on candidates only. Unlike LSH this is EXACT
    (recall 1.0 by theorem, not by tuned bands), and unlike the bounded
    all-pairs contract (tokenset_jaccard_pairs) it scales: measured at
    sf0.01 the prefix join generates 25 candidates out of 402
    shingle-sharing pairs — and all 25 verify (perfect precision on this
    corpus too).

    Scale: prefix length is (1-tau)|x|+1 (20% of each set at tau=0.8);
    candidates are bounded by per-prefix-token co-occurrence (rare-first
    ordering makes prefix tokens the LEAST shared ones — the whole
    trick); the verify joins full sets only for candidate pairs. The df
    table is dimension-like per shingle; the rank window is per-doc over
    its own shingles.

    Determinism: ranks tie-break (df, shingle); Jaccard is one exact-int
    double divide."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(_shingles_raw(_tokens(F.col("text"))))
            ).alias("s"),
        )
    )
    dfx = sh.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("df"))
    sized = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    ranked = (
        sh.join(dfx, "s")
        .join(sized, "doc_id")
        .select(
            "doc_id",
            "s",
            "sz",
            F.row_number()
            .over(Window.partitionBy("doc_id").orderBy("df", "s"))
            .alias("rk"),
        )
    )
    prefix = ranked.filter(
        F.col("rk")
        <= F.col("sz") - F.ceil(F.lit(_PFX_TAU) * F.col("sz")).cast("long") + 1
    ).select("doc_id", "s", "sz")
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "s")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        # PPJoin length filter (see oracle comment): exactness-preserving
        .filter(
            (
                F.col("b.sz")
                >= F.ceil(F.lit(_PFX_TAU) * F.col("a.sz")).cast("long")
            )
            & (
                F.col("a.sz")
                >= F.ceil(F.lit(_PFX_TAU) * F.col("b.sz")).cast("long")
            )
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    ver = (
        cand.join(sh.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(
            sh.alias("sb"),
            (F.col("doc_b") == F.col("sb.doc_id"))
            & (F.col("sa.s") == F.col("sb.s")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    sz_a = sized.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sz_b = sized.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    jacc = F.col("n_shared").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_shared")
    ).cast("double")
    return (
        ver.join(sz_a, "doc_a")
        .join(sz_b, "doc_b")
        .select("doc_a", "doc_b", "n_shared", "sz_a", "sz_b", jacc.alias("jaccard"))
        .filter(F.col("jaccard") >= _PFX_TAU)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Persisted MinHash-LSH index (round 13): the build/serve split applied to
# the dedup family (the similarity family's persisted-IVF discipline —
# operators/similarity.py:_ivf_index_dir — on the banded signature table)
# ---------------------------------------------------------------------------
#
# Every LSH query above recomputes 32 md5 minhashes per shingle per run —
# correct for certifying the chain, but production builds the signature
# index ONCE per corpus version and serves every near-dup LOOKUP from it.
# Layout under a documents-fingerprint-keyed dir:
#
# - sigs: (doc_id, m0..m31) — the MinHash signatures (the verify side);
# - bands: (doc_id, bsig) PARTITIONED BY (band, bucket) where
#   bucket = xxhash64(bsig) mod n_buckets. band alone cannot prune
#   (a query probes all 8 bands); the signature-hash sub-bucket makes the
#   probe STATICALLY prunable: a |Q|-doc lookup opens exactly its
#   |Q| x 8 (band, bucket) directories out of 8 x n_buckets —
#   the FAISS-style "know your lists before reading" move. The bucket is
#   a pure storage detail (engine-internal hash): results join on
#   (band, bsig) exactly, so the oracle never sees it.
#
# Round-16: n_buckets is SCALE-ADAPTIVE, derived from the corpus size at
# build time so each (band, bucket) leaf lands near the §6 target file
# size instead of a constant tuned for one scale (16 gave 128 near-empty
# leaf files at sf0.1 — file-open/commit overhead locally, and at 100 TB
# a fixed 16 would make every probed leaf ~1/128 of the corpus). The
# built count is recorded in the index marker and every consumer
# (serving, delete reclaim, the streaming append twin) reads it from
# there, so layouts of any vintage serve correctly.

_LSH_TARGET_LEAF_ROWS = 1_500_000  # ~128 MB of (doc_id, bsig) rows (§6)
_LSH_IDX_BUCKETS_CAP = 4096


def _lsh_n_buckets(n_sig_rows: int) -> int:
    """Buckets per band for a corpus of ``n_sig_rows`` signatures: each
    band holds one row per doc, so leaves hold n/buckets rows — target
    _LSH_TARGET_LEAF_ROWS per leaf, at least 1, capped to keep the
    directory count sane."""
    return max(1, min(_LSH_IDX_BUCKETS_CAP, -(-n_sig_rows // _LSH_TARGET_LEAF_ROWS)))


def _lsh_idx_buckets(idx: str) -> int:
    """The bucket count this index was BUILT with (marker-recorded)."""
    from kasper_spark import index_catalog as _cat

    return _cat.marker_read_ints(idx, _LSH_IDX_MARKER)["buckets"]
_LSH_IDX_QUERIES = 20  # bounded query-doc subset for the serving contract
_LSH_IDX_MARKER = "_KASPER_LSH_READY"
# The maintained index's flat LSM-style tail: epochs append ONE file here
# (band/bucket as data columns) and a periodic fold moves the rows into
# the partitioned bands layout — see streaming_twins._lsh_append_run.
_LSH_PENDING = "bands_pending"


def _lsh_index_dir(sf_dir: str) -> str:
    import os

    from kasper_spark import index_catalog as _cat

    # v3: the on-disk LAYOUT version is part of the key, so a code
    # release that changes the layout abandons old dirs instead of
    # misreading them — fingerprints cover data AND format (v2: packed
    # sig array; v3: scale-adaptive band bucket count).
    return _cat.fingerprint_dir(
        "kasper-lsh-index", os.path.join(sf_dir, "documents.parquet"), version="v3"
    )


def _build_lsh_index(spark: SparkSession, sf_dir: str) -> str:
    """Persist {sigs, bands partitioned by (band, bucket)}. Marker removed
    first / written last (atomically) — index_catalog's shared crash
    discipline."""
    import os

    from kasper_spark import index_catalog as _cat

    idx = _lsh_index_dir(sf_dir)
    _cat.marker_remove(idx, _LSH_IDX_MARKER)
    # ONE array column, not 32 long columns: the signature is always read
    # whole (banding and verify both need every hash), so packing it keeps
    # the scan at 2 columns — the repo-wide <= 8-column scan gate — and
    # one column chunk per file instead of 32.
    #
    # Round-16 opt (§2.4/§5): the signature pass is persisted for the
    # DURATION OF THE BUILD only (unpersisted in finally) so the sigs
    # write materializes it once and the banding write reads the cached
    # batches instead of re-reading sigs from disk — one fewer pass, and
    # the bytes written are identical: banding long values from cache ==
    # banding them after a parquet round-trip (longs round-trip exactly,
    # the invariant the old read-back comment recorded).
    sigs_packed = _pack_sig(_md5_sigs(spark, sf_dir)).persist()
    try:
        sigs_packed.write.mode("overwrite").parquet(os.path.join(idx, "sigs"))
        # scale-adaptive bucket count from the just-written sig count
        # (parquet footers — no job; see _lsh_n_buckets)
        import pyarrow.dataset as _pads

        n_sigs = _pads.dataset(
            os.path.join(idx, "sigs"), format="parquet"
        ).count_rows()
        n_buckets = _lsh_n_buckets(n_sigs)
        (
            _band_sigs(_unpack_sig(sigs_packed))
            .withColumn(
                "bucket",
                F.pmod(F.xxhash64(F.col("bsig")), F.lit(n_buckets)).cast("int"),
            )
            .repartition(F.col("band"), F.col("bucket"))
            .write.mode("overwrite")
            .partitionBy("band", "bucket")
            .parquet(os.path.join(idx, "bands"))
        )
    finally:
        sigs_packed.unpersist()
    _cat.marker_write(
        idx,
        _LSH_IDX_MARKER,
        hashes=_NUM_HASHES,
        bands=_BANDS,
        buckets=n_buckets,
    )
    return idx


def _ensure_lsh_index(spark: SparkSession, sf_dir: str) -> str:
    from kasper_spark import index_catalog as _cat

    idx = _lsh_index_dir(sf_dir)
    if _cat.marker_exists(idx, _LSH_IDX_MARKER):
        return idx
    return _build_lsh_index(spark, sf_dir)


@register_query(
    "lsh_index_build",
    oracle="WITH " + _LSH_BANDS_CTE
    + """
    SELECT CAST(band AS BIGINT) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT bsig) AS BIGINT) AS n_buckets
    FROM bands
    GROUP BY band
    ORDER BY band
    """,
)
def lsh_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the persisted MinHash-LSH index and return the per-band
    occupancy profile (rows and distinct signatures) — read BACK from
    the written band table, so a green row certifies the bytes on disk
    against the oracle's full banding chain. The profile doubles as the
    collision diagnostic: n_buckets near n_rows means the band is
    selective; a collapse signals a degenerate hash family.

    Scale shape: one corpus pass for the signatures (shingle explode ->
    partial-agg min per hash, the certified minhash plan), one shuffle
    into the (band, bucket) layout — the pay-once build cost of the
    near-dup serving path (lsh_neardup_search_only)."""
    import os

    idx = _build_lsh_index(spark, sf_dir)
    bands = spark.read.parquet(os.path.join(idx, "bands"))
    return (
        bands.groupBy(F.col("band").cast("bigint").alias("band"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("bsig").alias("n_buckets"),
        )
        .orderBy("band")
    )


def _lsh_agree_expr(a: str, b: str):
    cols = [
        (F.col(f"{a}.m{i}") == F.col(f"{b}.m{i}")).cast("int")
        for i in range(_NUM_HASHES)
    ]
    out = cols[0]
    for c in cols[1:]:
        out = out + c
    return out


@register_query(
    "lsh_neardup_search_only",
    oracle="WITH " + _LSH_BANDS_CTE
    + f""",
    q AS (
        SELECT doc_id, band, bsig FROM bands
        WHERE doc_id < {_LSH_IDX_QUERIES}
    ),
    cand AS (
        SELECT DISTINCT q.doc_id AS query_id, b.doc_id AS neighbor_id
        FROM q JOIN bands b USING (band, bsig)
        WHERE b.doc_id <> q.doc_id
    ),
    agreed AS (
        SELECT c.query_id, c.neighbor_id,
               ({" + ".join(f"(CASE WHEN x.m{i} = y.m{i} THEN 1 ELSE 0 END)" for i in range(_NUM_HASHES))})
                   AS n_agree
        FROM cand c
        JOIN sigs x ON c.query_id = x.doc_id
        JOIN sigs y ON c.neighbor_id = y.doc_id
    )
    SELECT query_id, neighbor_id, CAST(n_agree AS BIGINT) AS n_agree
    FROM agreed
    WHERE n_agree / {_NUM_HASHES}.0 >= 0.5
    ORDER BY query_id, neighbor_id
    """,
)
def lsh_neardup_search_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup LOOKUP served entirely from the persisted LSH index: the
    |Q| query docs' band signatures are read from the on-disk sigs
    (doc_id pushdown), their |Q| x 8 (band, bucket) probe list is
    collected (bounded by construction) into a STATIC partition filter
    on the bands scan — only the probed bucket directories open — and
    candidates join on (band, bsig) exactly, then verify by signature
    agreement >= 0.5 against the on-disk sigs. No shingling, no md5, no
    corpus scan anywhere: this is the marginal cost of asking "what
    near-duplicates does this document have?" against a built index —
    the query a curation pipeline serves interactively while
    minhash_lsh_candidates' full self-join shape remains the batch
    build-side certification.

    Scale: probes are |Q| x _BANDS rows; the bands scan is pruned to
    |probes| directories of ~_LSH_TARGET_LEAF_ROWS rows each (the
    marker-recorded scale-adaptive bucket count — see _lsh_n_buckets);
    the verify join touches only candidates. Partition pruning is
    plan-asserted in tests/test_round13_ops.py."""
    return _search_lsh_index(spark, _ensure_lsh_index(spark, sf_dir))


def _search_lsh_index(spark: SparkSession, idx: str) -> DataFrame:
    """lsh_neardup_search_only's serving body over an EXPLICIT index dir
    — shared with the streaming LSH-append twin's freshness check.

    When the index is under streaming maintenance, rows committed since
    the last fold sit in the flat ``bands_pending`` tail; serving unions
    it in (filtered by the same band/bucket predicate — no partition
    pruning, but the tail is bounded by fold_every epochs of arrivals) —
    the memtable-plus-SSTable read. An offline-built index has no tail
    and serves exactly as before."""
    import glob
    import os
    from functools import reduce

    from kasper_spark import index_catalog as _cat

    sigs = _unpack_sig(spark.read.parquet(os.path.join(idx, "sigs")))
    # logical deletes awaiting reclaim: a tombstoned doc can neither
    # probe nor verify (band rows it left behind die at the sig join);
    # broadcast is size-gated (index_catalog.tombstones_side)
    dead = _cat.tombstones_side(spark, os.path.join(idx, _LSH_TOMBSTONES), "doc_id")
    if dead is not None:
        sigs = sigs.join(dead, "doc_id", "left_anti")
    probe_rows = (
        _band_sigs(sigs.filter(F.col("doc_id") < _LSH_IDX_QUERIES))
        .withColumn(
            "bucket",
            F.pmod(F.xxhash64(F.col("bsig")), F.lit(_lsh_idx_buckets(idx))).cast(
                "int"
            ),
        )
        .collect()
    )
    probe = spark.createDataFrame(
        [(r["doc_id"], r["band"], r["bsig"]) for r in probe_rows],
        "query_id long, band int, bsig string",
    )
    probed = sorted({(r["band"], r["bucket"]) for r in probe_rows})
    prune = reduce(
        lambda acc, bk: acc
        | ((F.col("band") == bk[0]) & (F.col("bucket") == bk[1])),
        probed,
        F.lit(False),
    )
    bands = spark.read.parquet(os.path.join(idx, "bands")).select(
        "doc_id", "bsig", F.col("band").cast("int").alias("band"),
        F.col("bucket").cast("int").alias("bucket"),
    )
    tail_files = glob.glob(os.path.join(idx, _LSH_PENDING, "*.parquet"))
    if tail_files:
        bands = bands.unionByName(
            spark.read.parquet(os.path.join(idx, _LSH_PENDING)).select(
                "doc_id", "bsig", F.col("band").cast("int").alias("band"),
                F.col("bucket").cast("int").alias("bucket"),
            )
        )
    cand = (
        bands.filter(prune)
        .join(F.broadcast(probe), ["band", "bsig"])
        .filter(F.col("doc_id") != F.col("query_id"))
        .select("query_id", F.col("doc_id").alias("neighbor_id"))
        .distinct()
    )
    x = sigs.alias("x")
    y = sigs.alias("y")
    agreed = (
        cand.join(x, F.col("query_id") == F.col("x.doc_id"))
        .join(y, F.col("neighbor_id") == F.col("y.doc_id"))
        .select(
            "query_id",
            "neighbor_id",
            _lsh_agree_expr("x", "y").cast("bigint").alias("n_agree"),
        )
    )
    return agreed.filter(
        F.col("n_agree").cast("double") / _NUM_HASHES >= 0.5
    ).orderBy("query_id", "neighbor_id")


# --- LSH index delete maintenance (round 14): the takedown path of the
# persisted near-dup index — tombstone-then-reclaim, sharing
# index_catalog's guarded reclaim with the IVF/PQ deletes.

_LSH_DELETE_MOD = 9
_LSH_DELETE_REM = 4
_LSH_TOMBSTONES = "tombstones"


@register_query(
    "lsh_index_delete",
    oracle="WITH " + _LSH_BANDS_CTE
    + f"""
    SELECT CAST(band AS BIGINT) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT bsig) AS BIGINT) AS n_buckets
    FROM bands WHERE doc_id % {_LSH_DELETE_MOD} <> {_LSH_DELETE_REM}
    GROUP BY band
    ORDER BY band
    """,
)
def lsh_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Takedown maintenance on the persisted MinHash-LSH index: tombstone
    the doc set (doc_id % 9 == 4 — the deterministic stand-in for DMCA /
    dedup-kill removals), then one guarded reclaim pass rewrites BOTH
    tables (flat sigs + (band, bucket)-partitioned bands) without the
    dead documents. A tombstoned doc stops serving immediately
    (_search_lsh_index anti-joins the tombstones: it can neither be a
    query nor survive the signature verify); reclaim makes it physically
    gone. Certified as build-minus-deleted equality on the per-band
    occupancy profile read BACK from the reclaimed band table — a
    document's signature depends only on its own text, so deleting docs
    must change nothing else (the oracle re-derives the full banding
    chain minus the deleted ids)."""
    import atexit
    import os
    import shutil
    import tempfile

    from kasper_spark import index_catalog as _cat

    real = _ensure_lsh_index(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="kasper-lshdel-")
    # the returned profile lazily re-scans the work copy — exit-scoped
    # cleanup, the twins' _workdir discipline
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    idx = os.path.join(work, "index")
    shutil.copytree(real, idx)
    (
        spark.read.parquet(os.path.join(idx, "sigs"))
        .filter(F.col("doc_id") % _LSH_DELETE_MOD == _LSH_DELETE_REM)
        .select("doc_id")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(os.path.join(idx, _LSH_TOMBSTONES))
    )
    with _cat.guarded_maintenance(idx):
        _cat.reclaim_tombstones(
            spark,
            idx,
            {"sigs": [], "bands": ["band", "bucket"]},
            "doc_id",
            _LSH_TOMBSTONES,
        )
    bands = spark.read.parquet(os.path.join(idx, "bands"))
    return (
        bands.groupBy(F.col("band").cast("bigint").alias("band"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("bsig").alias("n_buckets"),
        )
        .orderBy("band")
    )
