"""Keyword retrieval over the corpus (round 8): BM25 scoring and
reciprocal-rank fusion of two independent rankers.

The reference engine has no search tier — its closest surface is the
Elasticsearch *sink* (/root/reference/elasticsearch.go:86-159), which
delegates scoring to ES. A training-data platform needs the scoring
in-engine: BM25 is how you mine topical subsets from a 100 TB corpus
("all docs relevant to these benchmark queries") and RRF is the standard
way to combine keyword relevance with an orthogonal signal (here the
model-based quality logit) without tuning score scales.

Cross-engine exactness discipline (same rules as functions/exact.py):
- integer inputs everywhere (tf, df, dl, N are counts; the quality logit
  is BIGINT by construction);
- every double is produced by ONE identical expression tree over those
  exact integers — IEEE ops on identical inputs are identically rounded,
  so Spark and DuckDB emit bit-equal doubles;
- the only cross-term accumulation (summing per-term BM25 contributions)
  goes through decimal(30,12), so partition/engine order cannot move a
  bit;
- idf is the raw Robertson odds ratio (N - df + 0.5)/(df + 0.5) rather
  than its logarithm: ln() is not bit-identical across libm
  implementations, and per-term the odds form is a monotone transform of
  the standard ln idf (rankings for single-term queries are identical;
  for multi-term sums it weighs rare terms more aggressively — the
  documented trade for hash-certifiability).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kasper_spark.catalog import load_table
from kasper_spark.registry import register_query

_BM25_TERMS = ("spark", "join", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 20
_RRF_K = 60  # the standard RRF damping constant
_RRF_DEPTH = 50  # per-ranker candidate depth fused

# quality-logit ranker constants (kept in sync with operators/curation.py
# by the import below — a drift there fails loudly here)
from kasper_spark.operators.curation import _CLF_BIAS, _CLF_BUCKETS, _CLF_MIX


def _toks_sql(col: str = "text") -> str:
    return f"list_filter(string_split({col}, ' '), w -> w <> '')"


_BM25_TERMS_SQL = ", ".join(f"('{t}')" for t in _BM25_TERMS)

# One shared SQL body: per-(doc, term) BM25 contributions summed through
# decimal. The tf>0 filter keeps the join sparse (a doc scores only the
# terms it contains — absent terms contribute 0 in BM25 anyway).
_BM25_CORE_SQL = f"""
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len({_toks_sql()})) AS BIGINT) AS total_tokens
        FROM documents
    ),
    tf AS (
        SELECT d.doc_id,
               CAST(len({_toks_sql('d.text')}) AS BIGINT) AS dl,
               t.term,
               CAST(len(list_filter({_toks_sql('d.text')}, w -> w = t.term))
                    AS BIGINT) AS tf
        FROM documents d CROSS JOIN (VALUES {_BM25_TERMS_SQL}) AS t(term)
    ),
    df AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df
        FROM tf WHERE tf > 0 GROUP BY term
    ),
    contrib AS (
        SELECT f.doc_id,
               CAST(
                   ((CAST(s.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
                    / (CAST(df.df AS DOUBLE) + 0.5))
                   * ((CAST(f.tf AS DOUBLE) * {_BM25_K1 + 1.0})
                      / (CAST(f.tf AS DOUBLE)
                         + {_BM25_K1} * ({1.0 - _BM25_B}
                             + ({_BM25_B} * CAST(f.dl AS DOUBLE))
                               / (CAST(s.total_tokens AS DOUBLE)
                                  / CAST(s.n_docs AS DOUBLE)))))
                   AS DECIMAL(30, 12)) AS part
        FROM tf f JOIN df USING (term) CROSS JOIN stats s
        WHERE f.tf > 0
    ),
    bm25 AS (
        SELECT doc_id,
               CAST(SUM(part) AS DECIMAL(30, 12)) AS score_dec
        FROM contrib GROUP BY doc_id
    ),
    bm25_ranked AS (
        SELECT doc_id, score_dec,
               ROW_NUMBER() OVER (ORDER BY score_dec DESC, doc_id) AS rk
        FROM bm25
    )
"""


def _bm25_tf_part(avgdl_lit) -> Column:
    """The per-row BM25 tf saturation term with avgdl supplied as a
    pre-resolved double (literal or column) — byte-identical expression
    tree in every caller."""
    return (F.col("tf").cast("double") * F.lit(_BM25_K1 + 1.0)) / (
        F.col("tf").cast("double")
        + F.lit(_BM25_K1)
        * (
            F.lit(1.0 - _BM25_B)
            + (F.lit(_BM25_B) * F.col("dl").cast("double")) / avgdl_lit
        )
    )


def _bm25_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared BM25 plan: (doc_id, score_dec, rank) over docs matching
    at least one query term — the Spark twin of _BM25_CORE_SQL. The corpus
    stats and the per-term df are two tiny aggregates broadcast back into
    the scan's tf rows, so one plan serves every corpus, including one
    that matches no query term or has no rows (both rank nothing)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    base = docs.select(
        "doc_id", toks.alias("t"), F.size(toks).cast("long").alias("dl")
    )
    # dense per-(doc, term) counts over the 3 literal seed terms, computed
    # inside the scan stage (no token explode)
    terms = F.explode(F.array(*[F.lit(t) for t in _BM25_TERMS])).alias("term")
    tf = base.select("doc_id", "dl", "t", terms).select(
        "doc_id",
        "dl",
        "term",
        F.size(F.expr("filter(t, w -> w = term)")).cast("long").alias("tf"),
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_tokens"),
    )
    df_t = tf.filter(F.col("tf") > 0).groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    avgdl = F.col("total_tokens").cast("double") / F.col("n_docs").cast("double")
    idf = (
        F.col("n_docs").cast("double") - F.col("df").cast("double") + F.lit(0.5)
    ) / (F.col("df").cast("double") + F.lit(0.5))
    contrib = (
        tf.filter(F.col("tf") > 0)
        .join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (idf * _bm25_tf_part(avgdl)).cast("decimal(30,12)").alias("part"),
        )
    )
    bm25 = contrib.groupBy("doc_id").agg(
        F.sum("part").cast("decimal(30,12)").alias("score_dec")
    )
    w = Window.orderBy(F.desc("score_dec"), F.asc("doc_id"))
    return bm25.select(
        "doc_id", "score_dec", F.row_number().over(w).alias("rank")
    )


@register_query(
    "bm25_keyword_topk",
    oracle=f"""
    WITH {_BM25_CORE_SQL}
    SELECT doc_id,
           CAST(score_dec AS DOUBLE) AS bm25_score,
           CAST(rk AS BIGINT) AS rank
    FROM bm25_ranked WHERE rk <= {_BM25_TOPK}
    """,
)
def bm25_keyword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval: score every document against a fixed term
    set (k1=1.2, b=0.75, odds-ratio idf — see module docstring) and return
    the global top-20 with dense ranks.

    Scale: the term list is a 3-row broadcast literal — per-doc tf/dl are
    computed INSIDE the scan stage (array filter on the token array, no
    explode, no shuffle); df and the corpus stats are two tiny aggregates
    broadcast back. The only wide operation is the final top-k, which is
    a rank-1 window over docs that matched at least one term — on a real
    cluster TakeOrderedAndProject / WindowGroupLimit keeps per-partition
    state at k rows. Nothing here is proportional to corpus size except
    the single scan."""
    ranked = _bm25_ranked(spark, sf_dir)
    return ranked.filter(F.col("rank") <= _BM25_TOPK).select(
        "doc_id",
        F.col("score_dec").cast("double").alias("bm25_score"),
        F.col("rank").cast("long").alias("rank"),
    )


@register_query(
    "rrf_fusion_topk",
    oracle=f"""
    WITH {_BM25_CORE_SQL},
    kw AS (
        SELECT doc_id, rk FROM bm25_ranked WHERE rk <= {_RRF_DEPTH}
    ),
    qual AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY logit DESC, doc_id) AS rk
        FROM (
            SELECT doc_id,
                   {_CLF_BIAS} + list_sum(list_transform(
                       {_toks_sql()},
                       t -> ((CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT)
                              % {_CLF_BUCKETS}) * {_CLF_MIX}) % 17 - 8
                   )) AS logit
            FROM documents
        )
        QUALIFY rk <= {_RRF_DEPTH}
    ),
    fused AS (
        SELECT COALESCE(kw.doc_id, qual.doc_id) AS doc_id,
               CAST(kw.rk AS BIGINT) AS kw_rank,
               CAST(qual.rk AS BIGINT) AS quality_rank,
               (CASE WHEN kw.rk IS NULL THEN 0.0
                     ELSE 1.0 / CAST({_RRF_K} + kw.rk AS DOUBLE) END)
               + (CASE WHEN qual.rk IS NULL THEN 0.0
                       ELSE 1.0 / CAST({_RRF_K} + qual.rk AS DOUBLE) END)
                   AS rrf_score
        FROM kw FULL OUTER JOIN qual ON kw.doc_id = qual.doc_id
    )
    SELECT doc_id, kw_rank, quality_rank, rrf_score,
           CAST(ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT)
               AS fused_rank
    FROM fused
    QUALIFY fused_rank <= {_BM25_TOPK}
    """,
)
def rrf_fusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two independent document rankers — BM25
    keyword relevance and the model-based quality logit — the standard
    scale-free way to combine heterogeneous signals (rrf = sum over lists
    of 1/(60 + rank), docs missing from a list contribute 0). Returns the
    fused top-20 with both source ranks exposed for audit.

    Exactness: both input ranks are integers from deterministic
    (score, doc_id) orders; each reciprocal is one exact-int double
    division and the fusion adds exactly two such doubles in a fixed
    expression order — bit-stable everywhere.

    Scale: both rankers bound their lists to depth 50 before the fusion
    join, so the full-outer join and final sort touch at most 100 rows no
    matter the corpus size; the expensive parts (one scan per ranker —
    sharable via cache) are the rankers themselves, already top-k-bounded
    window plans."""
    from pyspark.sql.window import Window

    kw = (
        _bm25_ranked(spark, sf_dir)
        .filter(F.col("rank") <= _RRF_DEPTH)
        .select("doc_id", F.col("rank").alias("kw_rank"))
    )
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda w: w != "")

    def weight(t):
        bucket = (
            F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint") % _CLF_BUCKETS
        )
        return (bucket * F.lit(_CLF_MIX)) % 17 - 8

    logit = F.lit(_CLF_BIAS) + F.aggregate(
        F.transform(toks, weight), F.lit(0).cast("bigint"), lambda acc, x: acc + x
    )
    wq = Window.orderBy(F.desc("logit"), F.asc("doc_id"))
    qual = (
        docs.select("doc_id", logit.alias("logit"))
        .select("doc_id", F.row_number().over(wq).alias("quality_rank"))
        .filter(F.col("quality_rank") <= _RRF_DEPTH)
    )
    fused = kw.join(qual, "doc_id", "full_outer").select(
        "doc_id",
        F.col("kw_rank").cast("long").alias("kw_rank"),
        F.col("quality_rank").cast("long").alias("quality_rank"),
        (
            F.when(F.col("kw_rank").isNull(), F.lit(0.0)).otherwise(
                F.lit(1.0) / (F.lit(_RRF_K) + F.col("kw_rank")).cast("double")
            )
            + F.when(F.col("quality_rank").isNull(), F.lit(0.0)).otherwise(
                F.lit(1.0) / (F.lit(_RRF_K) + F.col("quality_rank")).cast("double")
            )
        ).alias("rrf_score"),
    )
    wf = Window.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return fused.select(
        "*", F.row_number().over(wf).cast("long").alias("fused_rank")
    ).filter(F.col("fused_rank") <= _BM25_TOPK)


# ---------------------------------------------------------------------------
# Hybrid search: lexical BM25 + semantic cosine, RRF-fused
# ---------------------------------------------------------------------------

_HYBRID_QUERY_VEC = 0  # "more like doc 0" — the semantic query anchor

from kasper_spark.operators.similarity import dot_exact_sql as _dot_sql  # noqa: E402


@register_query(
    "hybrid_search_topk",
    oracle=f"""
    WITH {_BM25_CORE_SQL},
    kw AS (
        SELECT doc_id, rk FROM bm25_ranked WHERE rk <= {_RRF_DEPTH}
    ),
    qv AS (
        SELECT embedding AS qe,
               sqrt({_dot_sql('embedding', 'embedding')}) AS qn
        FROM embeddings WHERE vec_id = {_HYBRID_QUERY_VEC}
    ),
    vec AS (
        SELECT vec_id AS doc_id,
               ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS rk
        FROM (
            SELECT e.vec_id,
                   {_dot_sql('q.qe', 'e.embedding')}
                       / (q.qn * sqrt({_dot_sql('e.embedding', 'e.embedding')}))
                       AS cosine
            FROM embeddings e CROSS JOIN qv q
        )
        QUALIFY rk <= {_RRF_DEPTH}
    ),
    fused AS (
        SELECT COALESCE(kw.doc_id, vec.doc_id) AS doc_id,
               CAST(kw.rk AS BIGINT) AS kw_rank,
               CAST(vec.rk AS BIGINT) AS vec_rank,
               (CASE WHEN kw.rk IS NULL THEN 0.0
                     ELSE 1.0 / CAST({_RRF_K} + kw.rk AS DOUBLE) END)
               + (CASE WHEN vec.rk IS NULL THEN 0.0
                       ELSE 1.0 / CAST({_RRF_K} + vec.rk AS DOUBLE) END)
                   AS rrf_score
        FROM kw FULL OUTER JOIN vec ON kw.doc_id = vec.doc_id
    )
    SELECT doc_id, kw_rank, vec_rank, rrf_score,
           CAST(ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT)
               AS fused_rank
    FROM fused
    QUALIFY fused_rank <= {_BM25_TOPK}
    """,
)
def hybrid_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval — the RAG-stack shape: a lexical ranking (BM25 on
    the fixed term set) and a semantic ranking (exact cosine against doc
    0's embedding — documents and embeddings share the id space 1:1)
    fused with reciprocal ranks. Lexical catches exact keyword hits the
    embedding misses; the embedding catches paraphrases with zero term
    overlap; RRF combines them without score calibration.

    Exactness: cosines use the decimal-exact dot (similarity.dot_exact),
    so the semantic ordering is bit-identical across engines; ranks and
    reciprocals follow the rrf_fusion_topk discipline.

    Scale: the semantic side is the ann baseline shape — ONE query vector
    broadcast against a map-side cosine scan, top-k'd by
    TakeOrderedAndProject; for real query volumes it swaps to the
    LSH/IVF candidate path (ann_lsh_topk / ann_ivf_topk) with identical
    fusion plumbing. Both lists are depth-bounded before the join."""
    from pyspark.sql.window import Window

    from kasper_spark.operators.similarity import dot_exact, norm_exact

    kw = (
        _bm25_ranked(spark, sf_dir)
        .filter(F.col("rank") <= _RRF_DEPTH)
        .select("doc_id", F.col("rank").alias("kw_rank"))
    )
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == _HYBRID_QUERY_VEC).select(
        F.col("embedding").alias("qe"), norm_exact(F.col("embedding")).alias("qn")
    )
    scored = emb.crossJoin(F.broadcast(qv)).select(
        F.col("vec_id").alias("doc_id"),
        (
            dot_exact(F.col("qe"), F.col("embedding"))
            / (F.col("qn") * norm_exact(F.col("embedding")))
        ).alias("cosine"),
    )
    wv = Window.orderBy(F.desc("cosine"), F.asc("doc_id"))
    vec = (
        scored.select("doc_id", F.row_number().over(wv).alias("vec_rank"))
        .filter(F.col("vec_rank") <= _RRF_DEPTH)
    )
    fused = kw.join(vec, "doc_id", "full_outer").select(
        "doc_id",
        F.col("kw_rank").cast("long").alias("kw_rank"),
        F.col("vec_rank").cast("long").alias("vec_rank"),
        (
            F.when(F.col("kw_rank").isNull(), F.lit(0.0)).otherwise(
                F.lit(1.0) / (F.lit(_RRF_K) + F.col("kw_rank")).cast("double")
            )
            + F.when(F.col("vec_rank").isNull(), F.lit(0.0)).otherwise(
                F.lit(1.0) / (F.lit(_RRF_K) + F.col("vec_rank")).cast("double")
            )
        ).alias("rrf_score"),
    )
    wf = Window.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return fused.select(
        "*", F.row_number().over(wf).cast("long").alias("fused_rank")
    ).filter(F.col("fused_rank") <= _BM25_TOPK)


# ---------------------------------------------------------------------------
# Pseudo-relevance feedback (PRF) query expansion (round 11)
# ---------------------------------------------------------------------------

_PRF_FB_DOCS = 10  # feedback depth: top-k of the seed ranking
_PRF_EXP_TERMS = 3  # expansion terms appended to the seed query

# Expansion selection + round-2 BM25 over the expanded term set, as one
# shared CTE chain appended to _BM25_CORE_SQL (which provides bm25_ranked
# for the SEED query).
_PRF_CORE_SQL = f"""
    {_BM25_CORE_SQL},
    fb AS (SELECT doc_id FROM bm25_ranked WHERE rk <= {_PRF_FB_DOCS}),
    tok AS (
        SELECT doc_id, UNNEST({_toks_sql()}) AS w FROM documents
    ),
    fbtf AS (
        SELECT t.w AS term, CAST(COUNT(*) AS BIGINT) AS f_fb
        FROM tok t JOIN fb USING (doc_id) GROUP BY t.w
    ),
    dfall AS (
        SELECT w AS term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df_all
        FROM tok GROUP BY w
    ),
    expansion AS (
        SELECT f.term, f.f_fb, d.df_all
        FROM fbtf f JOIN dfall d USING (term) CROSS JOIN stats s
        WHERE f.term NOT IN ({", ".join("'" + t + "'" for t in _BM25_TERMS)})
        ORDER BY CASE WHEN d.df_all * 2 <= s.n_docs THEN 1 ELSE 0 END DESC,
                 f.f_fb DESC, d.df_all ASC, f.term LIMIT {_PRF_EXP_TERMS}
    ),
    terms2 AS (
        SELECT term FROM (VALUES {_BM25_TERMS_SQL}) AS t(term)
        UNION ALL SELECT term FROM expansion
    ),
    tf2 AS (
        SELECT d.doc_id,
               CAST(len({_toks_sql('d.text')}) AS BIGINT) AS dl,
               t.term,
               CAST(len(list_filter({_toks_sql('d.text')}, w -> w = t.term))
                    AS BIGINT) AS tf
        FROM documents d CROSS JOIN terms2 t
    ),
    df2 AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df
        FROM tf2 WHERE tf > 0 GROUP BY term
    ),
    contrib2 AS (
        SELECT f.doc_id,
               CAST(
                   ((CAST(s.n_docs AS DOUBLE) - CAST(df2.df AS DOUBLE) + 0.5)
                    / (CAST(df2.df AS DOUBLE) + 0.5))
                   * ((CAST(f.tf AS DOUBLE) * {_BM25_K1 + 1.0})
                      / (CAST(f.tf AS DOUBLE)
                         + {_BM25_K1} * ({1.0 - _BM25_B}
                             + ({_BM25_B} * CAST(f.dl AS DOUBLE))
                               / (CAST(s.total_tokens AS DOUBLE)
                                  / CAST(s.n_docs AS DOUBLE)))))
                   AS DECIMAL(30, 12)) AS part
        FROM tf2 f JOIN df2 USING (term) CROSS JOIN stats s
        WHERE f.tf > 0
    ),
    bm25_2 AS (
        SELECT doc_id, CAST(SUM(part) AS DECIMAL(30, 12)) AS score_dec
        FROM contrib2 GROUP BY doc_id
    ),
    ranked2 AS (
        SELECT doc_id, score_dec,
               ROW_NUMBER() OVER (ORDER BY score_dec DESC, doc_id) AS rk
        FROM bm25_2
    )
"""


def _bm25_score_over_terms(docs, terms_df):
    """Generalized BM25 (same k1/b/idf as _bm25_ranked) over a term set
    given as a DataFrame — the join-form building block, kept as the
    executable equivalence reference for the literal-terms variant below
    (pinned row-identical in tests/test_round16_opt.py) and as its
    degenerate-corpus fallback."""
    from pyspark.sql.window import Window

    toks = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    base = docs.select(
        "doc_id", toks.alias("t"), F.size(toks).cast("long").alias("dl")
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_tokens"),
    )
    # Round-15 opt: SPARSE per-(doc, term) counts (explode + broadcast
    # semi-join on the term table) replace the dense doc x term grid
    # whose filter() HOF re-scanned every token array once per term —
    # the dense form immediately dropped its tf=0 rows anyway, so the
    # nonzero counts are value-identical.
    tf = (
        base.select("doc_id", "dl", F.explode("t").alias("term"))
        .join(F.broadcast(terms_df), "term")
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    df_t = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    avgdl = F.col("total_tokens").cast("double") / F.col("n_docs").cast("double")
    idf = (
        F.col("n_docs").cast("double") - F.col("df").cast("double") + F.lit(0.5)
    ) / (F.col("df").cast("double") + F.lit(0.5))
    contrib = (
        tf.filter(F.col("tf") > 0)
        .join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (idf * _bm25_tf_part(avgdl)).cast("decimal(30,12)").alias("part"),
        )
    )
    bm25 = contrib.groupBy("doc_id").agg(
        F.sum("part").cast("decimal(30,12)").alias("score_dec")
    )
    w = Window.orderBy(F.desc("score_dec"), F.asc("doc_id"))
    return bm25.select(
        "doc_id", "score_dec", F.row_number().over(w).alias("rank")
    )


def _bm25_score_over_literal_terms(docs, terms: tuple[str, ...]):
    """The literal-terms twin of _bm25_score_over_terms (round-16
    pre-resolved-literals opt, bit-identity argument in
    evaluation._graded_scored):
    the bounded term set arrives as Python strings, so the broadcast
    semi-join becomes an isin filter, and df/stats resolve driver-side
    into literals — one explode -> filter -> agg -> agg -> window chain.

    tf equivalence: terms_df join vs isin over a duplicate-free term set
    keep the identical exploded-token rows; groupBy count unchanged."""
    from pyspark.sql.window import Window

    toks = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    base = docs.select(
        "doc_id", toks.alias("t"), F.size(toks).cast("long").alias("dl")
    )
    tf = (
        base.select("doc_id", "dl", F.explode("t").alias("term"))
        .filter(F.col("term").isin(*terms))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    # one resolution job (stats + df unioned — see _graded_scored)
    combo = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .select(
            "term",
            "df",
            F.lit(None).cast("long").alias("n_docs"),
            F.lit(None).cast("long").alias("total_tokens"),
        )
        .unionByName(
            base.agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("dl").cast("long").alias("total_tokens"),
            ).select(
                F.lit(None).cast("string").alias("term"),
                F.lit(None).cast("long").alias("df"),
                "n_docs",
                "total_tokens",
            )
        )
        .collect()
    )
    stats_row = next(r for r in combo if r["term"] is None)
    n_docs, total_tokens = stats_row["n_docs"], stats_row["total_tokens"]
    df_by_term = {r["term"]: r["df"] for r in combo if r["term"] is not None}
    if not df_by_term:
        return _bm25_score_over_terms(
            docs,
            docs.sparkSession.createDataFrame([(t,) for t in terms], ["term"]),
        )
    avgdl = float(total_tokens) / float(n_docs)
    idf_map = F.create_map(
        *[
            x
            for t, df in df_by_term.items()
            for x in (
                F.lit(t),
                F.lit((float(n_docs) - float(df) + 0.5) / (float(df) + 0.5)),
            )
        ]
    )
    contrib = tf.filter(F.col("tf") > 0).select(
        "doc_id",
        (F.element_at(idf_map, F.col("term")) * _bm25_tf_part(F.lit(avgdl)))
        .cast("decimal(30,12)")
        .alias("part"),
    )
    bm25 = contrib.groupBy("doc_id").agg(
        F.sum("part").cast("decimal(30,12)").alias("score_dec")
    )
    w = Window.orderBy(F.desc("score_dec"), F.asc("doc_id"))
    return bm25.select(
        "doc_id", "score_dec", F.row_number().over(w).alias("rank")
    )


def _prf_expansion(spark: SparkSession, sf_dir: str):
    """(expansion DataFrame, docs) — the selected feedback terms with
    their stats, shared by both PRF registry entries."""
    docs = load_table(spark, sf_dir, "documents")
    round1 = _bm25_ranked(spark, sf_dir)
    fb = round1.filter(F.col("rank") <= _PRF_FB_DOCS).select("doc_id")
    toks = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    # materialized once (round-15 opt): both the feedback-tf and the
    # corpus-df subtrees consume the token stream
    from kasper_spark.lineage import cut_lineage

    tok = cut_lineage(docs.select("doc_id", F.explode(toks).alias("w")))
    fbtf = (
        tok.join(F.broadcast(fb), "doc_id")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("f_fb"))
    )
    dfall = (
        tok.select("doc_id", "w")
        .distinct()
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("df_all"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    is_rare = F.when(F.col("df_all") * 2 <= F.col("n_docs"), 1).otherwise(0)
    expansion = (
        fbtf.join(dfall, "w")
        .crossJoin(F.broadcast(n_docs))
        .filter(~F.col("w").isin(*_BM25_TERMS))
        .orderBy(is_rare.desc(), F.desc("f_fb"), F.asc("df_all"), F.asc("w"))
        .limit(_PRF_EXP_TERMS)
        .select(F.col("w").alias("term"), "f_fb", "df_all")
    )
    return expansion, docs


@register_query(
    "prf_expansion_terms",
    oracle=f"""
    WITH {_PRF_CORE_SQL}
    SELECT term, f_fb, df_all FROM expansion ORDER BY term
    """,
)
def prf_expansion_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feedback terms PRF selects (Rocchio-style pseudo-relevance
    feedback, the classic two-pass retrieval trick): rank the seed
    query's top-{_PRF_FB_DOCS} documents' vocabulary with DISCRIMINATIVE
    terms first (df*2 <= n — a hard preference, not a hard filter, so
    the selection degrades gracefully on a stopword-dense corpus like
    this synthetic one instead of emptying), then feedback frequency,
    then rarer-in-corpus, then lexical; seed terms excluded; top
    {_PRF_EXP_TERMS} kept.
    Certified separately from the final ranking so a term-selection
    regression is visible as ITS OWN hash break, not a downstream one.

    Scale: feedback tf is a {_PRF_FB_DOCS}-doc broadcast-join slice; the
    corpus df table is the standard (doc, term) distinct shuffle every
    tf-idf operator already pays (shareable lineage)."""
    expansion, _ = _prf_expansion(spark, sf_dir)
    return expansion.orderBy("term")


@register_query(
    "prf_query_expansion_topk",
    oracle=f"""
    WITH {_PRF_CORE_SQL}
    SELECT doc_id,
           CAST(score_dec AS DOUBLE) AS bm25_score,
           CAST(rk AS BIGINT) AS rank
    FROM ranked2 WHERE rk <= {_BM25_TOPK}
    """,
)
def prf_query_expansion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 with pseudo-relevance-feedback query expansion, end to end:
    seed ranking -> top-{_PRF_FB_DOCS} feedback docs -> top-
    {_PRF_EXP_TERMS} expansion terms (prf_expansion_terms) -> round-2
    BM25 over seed+expansion -> global top-{_BM25_TOPK}. The entire
    composition (both retrieval passes AND the data-dependent term
    selection between them) sits under one oracle hash.

    Scale: two BM25 passes (each a single scan with tf computed inside
    the scan stage — see bm25_keyword_topk) + the expansion selection;
    the expanded term set is {len(_BM25_TERMS) + _PRF_EXP_TERMS} rows by
    construction, collected once and inlined, so round 2's plan is the
    seed plan with literal terms (round-16 pre-resolved literals)."""
    expansion, docs = _prf_expansion(spark, sf_dir)
    # Round-16 opt: the expansion is <= {seeds + exp} rows BY CONSTRUCTION
    # (limit above), so collecting it here costs the same job the
    # broadcast exchange of the identical subtree used to run — and round
    # 2 then compiles against literal terms (no expansion lineage, no
    # term broadcast in the serving plan; guide §1.2 pre-resolved
    # literals). Seed terms are excluded from the expansion by its
    # ~isin filter, so the concatenation is duplicate-free.
    exp_terms = tuple(r["term"] for r in expansion.select("term").collect())
    ranked2 = _bm25_score_over_literal_terms(docs, _BM25_TERMS + exp_terms)
    return ranked2.filter(F.col("rank") <= _BM25_TOPK).select(
        "doc_id",
        F.col("score_dec").cast("double").alias("bm25_score"),
        F.col("rank").cast("long").alias("rank"),
    )
