"""Evaluation & label-quality operators (round 9).

The reference engine's analytics stop at stateful counting (its quality
surface is the user's Process() callback — /root/reference/processor.go);
a training-data platform additionally needs to EVALUATE its own artifacts:
retrieval quality (MRR against a relevance ground truth), label quality
(inter-annotator agreement, majority vote), classifier calibration
(reliability bins), and the per-source "dataset card" summary that
accompanies a corpus release.

Cross-engine exactness discipline (same rules as functions/exact.py and
operators/retrieval.py):
- every count/label/logit is an exact BIGINT; annotator noise and feature
  hashes use the md5-prefix trick (conv(substring(md5(s),1,15),16,10) ==
  CAST('0x'||... AS BIGINT), bit-identical 60-bit ints);
- ratios (rr, po, kappa, keep-rate, shares) are produced by ONE double
  division (or one identical expression tree) over exact integers — IEEE
  ops on identical inputs round identically on any engine;
- BM25 scores accumulate through decimal(30,12) exactly like
  operators/retrieval.py, so partition order cannot move a bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kasper_spark.catalog import load_table
from kasper_spark.lineage import cut_lineage
from kasper_spark.registry import register_query

# shared constants: drift in curation/retrieval fails loudly here
from kasper_spark.operators.curation import _CLF_BIAS, _CLF_BUCKETS, _CLF_MIX
from kasper_spark.operators.retrieval import _BM25_B, _BM25_K1


def _toks_sql(col: str = "text") -> str:
    return f"list_filter(string_split({col}, ' '), w -> w <> '')"


def _toks(col: Column) -> Column:
    return F.filter(F.split(col, " "), lambda w: w != "")


# The hashed-ngram quality logit — the exact expression
# quality_classifier_logit certifies (kept in sync via the imported
# constants; its own driver row pins the value semantics).
_LOGIT_SQL = f"""{_CLF_BIAS} + list_sum(list_transform(
            {_toks_sql()},
            t -> ((CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT)
                   % {_CLF_BUCKETS}) * {_CLF_MIX}) % 17 - 8
        ))"""


def _logit_expr() -> Column:
    def weight(t: Column) -> Column:
        bucket = (
            F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint")
            % _CLF_BUCKETS
        )
        return (bucket * F.lit(_CLF_MIX)) % 17 - 8

    return F.lit(_CLF_BIAS) + F.aggregate(
        F.transform(_toks(F.col("text")), weight),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


# ---------------------------------------------------------------------------
# Synthetic annotators (deterministic, cross-engine-identical)
# ---------------------------------------------------------------------------
#
# Annotator k labels a document "keep" iff logit + noise_k > 0, where
# noise_k is an md5-derived integer in [-4, 4] seeded by (k, text). The
# three annotators are CORRELATED through the shared logit and disagree
# near the decision boundary — exactly the structure real annotation
# rounds have, and every step is BIGINT-exact on both engines. (A real
# deployment joins an annotations table instead; the aggregation pipeline
# downstream is identical.)

_ANNOTATORS = (1, 2, 3)


def _noise_sql(k: int) -> str:
    return (
        f"(CAST(('0x' || substring(md5('ann{k}:' || text), 1, 15)) AS BIGINT)"
        f" % 9 - 4)"
    )


def _noise_expr(k: int) -> Column:
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"ann{k}:"), F.col("text"))), 1, 15),
            16,
            10,
        ).cast("bigint")
        % 9
        - 4
    )


_LABELS_CTE = f"""labels AS (
        SELECT doc_id, source,
               {', '.join(
                   f'CAST(({_LOGIT_SQL} + {_noise_sql(k)}) > 0 AS BIGINT) AS l{k}'
                   for k in _ANNOTATORS
               )}
        FROM documents
    )"""


@register_query(
    "annotator_agreement_kappa",
    oracle=f"""
    WITH {_LABELS_CTE},
    pairs AS (
        SELECT 1 AS ann_a, 2 AS ann_b, l1 AS la, l2 AS lb FROM labels
        UNION ALL
        SELECT 1, 3, l1, l3 FROM labels
        UNION ALL
        SELECT 2, 3, l2, l3 FROM labels
    ),
    agg AS (
        SELECT ann_a, ann_b,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_agree,
               CAST(SUM(la) AS BIGINT) AS na1,
               CAST(SUM(lb) AS BIGINT) AS nb1
        FROM pairs GROUP BY ann_a, ann_b
    )
    SELECT CAST(ann_a AS BIGINT) AS ann_a, CAST(ann_b AS BIGINT) AS ann_b,
           n, n_agree,
           CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
           CASE WHEN n * n - (na1 * nb1 + (n - na1) * (n - nb1)) = 0
                THEN NULL
                ELSE CAST(n * n_agree
                          - (na1 * nb1 + (n - na1) * (n - nb1)) AS DOUBLE)
                     / CAST(n * n
                            - (na1 * nb1 + (n - na1) * (n - nb1)) AS DOUBLE)
           END AS kappa
    FROM agg
    """,
)
def annotator_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Cohen's kappa between three (synthetic, deterministic)
    annotators — the inter-annotator agreement audit every labeling
    campaign reports before its labels are trusted for training. kappa =
    (po - pe) / (1 - pe) is computed as ONE double division of two exact
    BIGINTs by clearing denominators: kappa = (n·agree - S) / (n² - S)
    with S = na1·nb1 + na0·nb0 — bit-identical on any engine, no float
    accumulation anywhere. The cleared form bounds n at ~3.0e9 docs per
    pair (n² must stay under 2^63; shard by corpus slice past that — a
    per-slice kappa is the statistically honest report anyway). The
    degenerate case (both annotators constant => pe = 1, denominator 0)
    emits NULL instead of 0/0 NaN, guarded identically in both engines.
    A po/pe double chain would lift the bound but risks FMA contraction
    differences between the JVM and C++ builds — rejected on the
    bit-exactness contract.

    Scale: labels are computed INSIDE the scan stage (hash + array
    aggregate, no explode); the pair expansion is 3 rows per doc feeding a
    partial-aggregated groupBy over a 3-row key space. One scan, one
    bounded shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    logit = _logit_expr()
    labeled = docs.select(
        "doc_id",
        *[
            ((logit + _noise_expr(k)) > 0).cast("bigint").alias(f"l{k}")
            for k in _ANNOTATORS
        ],
    )
    pair_rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(a).cast("bigint").alias("ann_a"),
                    F.lit(b).cast("bigint").alias("ann_b"),
                    F.col(f"l{a}").alias("la"),
                    F.col(f"l{b}").alias("lb"),
                )
                for a, b in ((1, 2), (1, 3), (2, 3))
            ]
        )
    ).alias("p")
    agg = (
        labeled.select(pair_rows)
        .select("p.ann_a", "p.ann_b", "p.la", "p.lb")
        .groupBy("ann_a", "ann_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum((F.col("la") == F.col("lb")).cast("long"))
            .cast("long")
            .alias("n_agree"),
            F.sum("la").cast("long").alias("na1"),
            F.sum("lb").cast("long").alias("nb1"),
        )
    )
    s = F.col("na1") * F.col("nb1") + (F.col("n") - F.col("na1")) * (
        F.col("n") - F.col("nb1")
    )
    return agg.select(
        "ann_a",
        "ann_b",
        "n",
        "n_agree",
        (F.col("n_agree").cast("double") / F.col("n").cast("double")).alias("po"),
        F.when(F.col("n") * F.col("n") - s == 0, F.lit(None).cast("double"))
        .otherwise(
            (F.col("n") * F.col("n_agree") - s).cast("double")
            / (F.col("n") * F.col("n") - s).cast("double")
        )
        .alias("kappa"),
    )


@register_query(
    "label_majority_vote",
    oracle=f"""
    WITH {_LABELS_CTE}
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN l1 + l2 + l3 >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_majority_keep,
           CAST(SUM(CASE WHEN l1 = l2 AND l2 = l3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unanimous,
           1.0 - (CAST(SUM(CASE WHEN l1 = l2 AND l2 = l3 THEN 1 ELSE 0 END)
                       AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
               AS disagreement_rate
    FROM labels
    GROUP BY source
    """,
)
def label_majority_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority-vote label aggregation with a per-source disagreement
    audit — the step that turns 3 annotator opinions into one training
    label, and the per-source disagreement rate that flags which slice of
    the corpus needs annotation-guideline work. Same deterministic
    annotator model as annotator_agreement_kappa.

    Scale: all three labels are scan-stage expressions on one row — the
    vote is map-side; the only shuffle is the per-source partial
    aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    logit = _logit_expr()
    labeled = docs.select(
        "source",
        *[
            ((logit + _noise_expr(k)) > 0).cast("bigint").alias(f"l{k}")
            for k in _ANNOTATORS
        ],
    )
    unanimous = (
        (F.col("l1") == F.col("l2")) & (F.col("l2") == F.col("l3"))
    ).cast("long")
    majority = (F.col("l1") + F.col("l2") + F.col("l3") >= 2).cast("long")
    return labeled.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(majority).cast("long").alias("n_majority_keep"),
        F.sum(unanimous).cast("long").alias("n_unanimous"),
        (
            F.lit(1.0)
            - F.sum(unanimous).cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("disagreement_rate"),
    )


# ---------------------------------------------------------------------------
# Classifier calibration (reliability bins)
# ---------------------------------------------------------------------------


@register_query(
    "calibration_reliability_bins",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, {_LOGIT_SQL} AS logit
        FROM documents
    ),
    words AS (
        SELECT doc_id, UNNEST({_toks_sql()}) AS w FROM documents
    ),
    wf AS (
        SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM words GROUP BY doc_id, w
    ),
    gopher AS (
        SELECT doc_id,
               CAST(CASE WHEN SUM(c) BETWEEN 50 AND 100000
                          AND (SUM(c * length(w)) / SUM(c)) BETWEEN 3.0 AND 8.0
                          AND (MAX(c) / SUM(c)) <= 0.12
                          AND (1.0 - (COUNT(*) / SUM(c))) <= 0.95
                    THEN 1 ELSE 0 END AS BIGINT) AS keep
        FROM wf GROUP BY doc_id
    ),
    ranked AS (
        SELECT s.logit, g.keep,
               ROW_NUMBER() OVER (ORDER BY s.logit DESC, s.doc_id) AS rk,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM scored s JOIN gopher g USING (doc_id)
    )
    SELECT CAST((rk * 10 + n - 1) // n AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(CAST(SUM(logit) AS BIGINT) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS mean_logit,
           CAST(CAST(SUM(keep) AS BIGINT) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS gopher_keep_rate
    FROM ranked
    GROUP BY 1
    """,
)
def calibration_reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the model-based quality classifier: rank
    documents by logit (descending), cut into 10 equal-rank bins (the
    value_pareto_deciles integer rank-quantile: d = ceil(rk*10/n)), and
    per bin report mean logit vs the OBSERVED keep rate under the
    independent heuristic Gopher gates. A calibrated classifier's keep
    rate falls monotonically across bins; a flat line means the logit
    carries no signal the heuristics see. This is the standard check
    before a learned quality filter replaces rule-based gates on a
    100 TB corpus.

    Scale: logits are scan-stage; the Gopher flags are the certified
    two-aggregate word pipeline; the global rank is one honest sort over
    DOCS (not tokens — same discipline and same documented histogram
    swap-in as value_pareto_deciles)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select("doc_id", _logit_expr().cast("bigint").alias("logit"))
    words = docs.select("doc_id", F.explode(_toks(F.col("text"))).alias("w"))
    wf = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    gopher = wf.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_cnt"),
        F.sum(F.col("c") * F.length("w")).alias("total_chars"),
    )
    keep = (
        F.col("n_words").between(50, 100000)
        & (F.col("total_chars") / F.col("n_words")).between(3.0, 8.0)
        & ((F.col("top_cnt") / F.col("n_words")) <= 0.12)
        & ((F.lit(1.0) - (F.col("n_distinct") / F.col("n_words"))) <= 0.95)
    ).cast("long")
    flags = gopher.select("doc_id", keep.alias("keep"))
    joined = scored.join(flags, "doc_id")
    w_rank = Window.orderBy(F.desc("logit"), F.asc("doc_id"))
    w_all = Window.partitionBy()
    ranked = joined.select(
        "logit",
        "keep",
        F.row_number().over(w_rank).alias("rk"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n"),
    )
    return (
        ranked.select(
            F.expr("(rk * 10 + n - 1) div n").cast("long").alias("decile"),
            "logit",
            "keep",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            (
                F.sum("logit").cast("long").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_logit"),
            (
                F.sum("keep").cast("long").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("gopher_keep_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Retrieval evaluation: MRR against a term-coverage relevance ground truth
# ---------------------------------------------------------------------------

_MRR_QUERIES = (
    (1, ("spark", "join", "window")),
    (2, ("dup", "scan")),
    (3, ("fast", "slow", "merge")),
    (4, ("vector", "stream", "key")),
    (5, ("the", "group")),
)
_MRR_REL_TF = 2  # relevance ground truth: every query term has tf >= this
_MRR_TERMS = tuple(sorted({t for _, ts in _MRR_QUERIES for t in ts}))

_MRR_TERMS_SQL = ", ".join(f"('{t}')" for t in _MRR_TERMS)
_MRR_QT_SQL = ", ".join(
    f"({qid}, '{t}')" for qid, ts in _MRR_QUERIES for t in ts
)


def _bm25_graded_scored_sql() -> str:
    """The shared BM25 CTE chain (stats/tf/df/qt/scored) of
    mrr_relevance_contract — factored so the nDCG contract rides the
    identical decimal-exact score."""
    return f"""
    WITH stats AS (
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
        FROM documents d CROSS JOIN (VALUES {_MRR_TERMS_SQL}) AS t(term)
    ),
    df AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df
        FROM tf WHERE tf > 0 GROUP BY term
    ),
    qt AS (
        SELECT * FROM (VALUES {_MRR_QT_SQL}) AS q(query_id, term)
    ),
    scored AS (
        SELECT q.query_id, f.doc_id,
               CAST(SUM(CASE WHEN f.tf > 0 THEN
                   CAST(
                       ((CAST(s.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
                        / (CAST(df.df AS DOUBLE) + 0.5))
                       * ((CAST(f.tf AS DOUBLE) * {_BM25_K1 + 1.0})
                          / (CAST(f.tf AS DOUBLE)
                             + {_BM25_K1} * ({1.0 - _BM25_B}
                                 + ({_BM25_B} * CAST(f.dl AS DOUBLE))
                                   / (CAST(s.total_tokens AS DOUBLE)
                                      / CAST(s.n_docs AS DOUBLE)))))
                       AS DECIMAL(30, 12))
                   ELSE CAST(0 AS DECIMAL(30, 12)) END) AS DECIMAL(30, 12))
                   AS score_dec,
               CAST(MIN(f.tf) AS BIGINT) AS min_tf
        FROM qt q
        JOIN tf f USING (term)
        JOIN df USING (term)
        CROSS JOIN stats s
        GROUP BY q.query_id, f.doc_id
    )"""


def _graded_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, doc_id, score_dec DECIMAL(30,12), min_tf), score_dec > 0
    — the Spark twin of _bm25_graded_scored_sql's ``scored`` CTE, shared
    by the whole ranking-eval family (MRR / nDCG / P-R@k).

    Round-16 opt (guide §1.2 "pre-resolved literals" / r15-verdict floor
    ticket): the corpus stats (2 longs), per-term df (<=13 rows) and the
    per-query present-term counts are DRIVER-BOUNDED by construction, so
    they are resolved in one small job up front and inlined as literal
    maps. The oracle's cross join + three broadcast joins become one
    linear explode -> filter -> agg -> agg chain: fewer exchanges, far
    fewer codegen spans, and about half the warm time of the
    broadcast-join plan at sf0.01 and sf0.1.

    Bit-identity argument: idf and avgdl are plain IEEE-754 double
    expressions over exact longs (< 2^53); Python and the JVM evaluate
    the SAME operation tree ((n_docs - df) + 0.5, etc.) with the same
    rounding, so inlining the Python-computed double literal is
    bit-equal to the JVM-computed column it replaces. The per-row
    tf_part * idf product and the DECIMAL(30,12) cast stay JVM-side,
    unchanged. The qt fan-out becomes an explode over a literal
    term -> [query_id] map (element_at misses yield NULL, and
    explode(NULL) emits nothing — exactly the inner join's drop)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _toks(F.col("text"))
    base = docs.select(
        "doc_id", toks.alias("t"), F.size(toks).cast("long").alias("dl")
    )
    # Round-15 opt: SPARSE per-(doc, term) counts — one explode + one
    # vocab-filtered groupBy — replace the dense doc x 13-term grid whose
    # higher-order filter() re-scanned every doc's token array once per
    # term. Equivalence to the dense form (oracle unchanged, dense):
    # absent terms contributed EXACTLY decimal 0 to score_dec (decimal
    # sums are exact, so dropping the zeros is value-identical), idf > 0
    # and tf_part > 0 make every present contrib strictly positive (so
    # `score_dec > 0` keeps exactly the docs with >= 1 present term =
    # exactly the sparse rows), and dense min_tf was 0 iff ANY query term
    # was absent — reproduced via the per-query term count.
    tf_nz = (
        base.select("doc_id", "dl", F.explode("t").alias("term"))
        .filter(F.col("term").isin(*_MRR_TERMS))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    # ONE resolution job: the corpus-stats aggregate and the per-term df
    # aggregate are unioned into a single action, so their subtrees run
    # inside one DAG (overlapping stages, one scheduling barrier); the
    # rows are dispatched on the null term marker.
    combo = (
        tf_nz.groupBy("term")
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
    df_by_term = {r["term"]: r["df"] for r in combo if r["term"] is not None}
    if not df_by_term:
        # no vocabulary term occurs anywhere (no-match or empty corpus):
        # no doc scores > 0, and avgdl may be undefined (0 docs).
        return tf_nz.select(
            F.lit(0).cast("long").alias("query_id"),
            "doc_id",
            F.lit(0).cast("decimal(30,12)").alias("score_dec"),
            F.lit(0).cast("long").alias("min_tf"),
        ).limit(0)
    stats_row = next(r for r in combo if r["term"] is None)
    n_docs, total_tokens = stats_row["n_docs"], stats_row["total_tokens"]
    # n_terms counts the query terms PRESENT in the corpus (df > 0), not
    # len(ts): the dense oracle's scored CTE inner-joins df USING (term),
    # so a corpus-wide-absent term never enters MIN(f.tf) — counting it
    # here would force min_tf = 0 for every doc of that query (ADVICE r15
    # medium; the two agree whenever every term occurs somewhere, which
    # is the case at the shipped SFs — this pins the df=0 edge).
    avgdl = float(total_tokens) / float(n_docs)
    idf_by_term = {
        t: (float(n_docs) - float(df) + 0.5) / (float(df) + 0.5)
        for t, df in df_by_term.items()
    }
    queries_by_term: dict[str, list[int]] = {}
    for qid, ts in _MRR_QUERIES:
        for t in ts:
            queries_by_term.setdefault(t, []).append(qid)
    n_terms_by_q = {
        qid: sum(1 for t in ts if t in df_by_term) for qid, ts in _MRR_QUERIES
    }
    idf_map = F.create_map(
        *[x for t, v in idf_by_term.items() for x in (F.lit(t), F.lit(v))]
    )
    q_map = F.create_map(
        *[
            x
            for t, qs in queries_by_term.items()
            for x in (F.lit(t), F.array(*[F.lit(q).cast("long") for q in qs]))
        ]
    )
    nt_map = F.create_map(
        *[
            x
            for q, n in n_terms_by_q.items()
            for x in (F.lit(q).cast("long"), F.lit(n).cast("long"))
        ]
    )
    tf_part = (F.col("tf").cast("double") * F.lit(_BM25_K1 + 1.0)) / (
        F.col("tf").cast("double")
        + F.lit(_BM25_K1)
        * (
            F.lit(1.0 - _BM25_B)
            + (F.lit(_BM25_B) * F.col("dl").cast("double")) / F.lit(avgdl)
        )
    )
    contrib = (F.element_at(idf_map, F.col("term")) * tf_part).cast(
        "decimal(30,12)"
    )
    return (
        tf_nz.select(
            "doc_id",
            F.explode(F.element_at(q_map, F.col("term"))).alias("query_id"),
            contrib.alias("contrib"),
            "tf",
        )
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("contrib").cast("decimal(30,12)").alias("score_dec"),
            F.min("tf").cast("long").alias("min_tf_present"),
            F.count(F.lit(1)).alias("n_present"),
        )
        .select(
            "query_id",
            "doc_id",
            "score_dec",
            F.when(
                F.col("n_present") == F.element_at(nt_map, F.col("query_id")),
                F.col("min_tf_present"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("min_tf"),
        )
        .filter(F.col("score_dec") > 0)
    )


@register_query(
    "mrr_relevance_contract",
    oracle=_bm25_graded_scored_sql()
    + f""",
    ranked AS (
        SELECT query_id, doc_id, min_tf,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY score_dec DESC, doc_id
               ) AS rk
        FROM scored WHERE score_dec > 0
    ),
    per_q AS (
        SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_retrieved
        FROM ranked GROUP BY query_id
    ),
    rel AS (
        SELECT query_id,
               CAST(COUNT(*) AS BIGINT) AS n_relevant,
               CAST(MIN(rk) AS BIGINT) AS first_rel_rank
        FROM ranked WHERE min_tf >= {_MRR_REL_TF} GROUP BY query_id
    )
    SELECT CAST(p.query_id AS BIGINT) AS query_id,
           p.n_retrieved,
           COALESCE(r.n_relevant, 0) AS n_relevant,
           COALESCE(r.first_rel_rank, 0) AS first_rel_rank,
           CASE WHEN r.first_rel_rank IS NULL THEN 0.0
                ELSE 1.0 / CAST(r.first_rel_rank AS DOUBLE) END AS rr
    FROM per_q p LEFT JOIN rel r USING (query_id)
    """,
)
def mrr_relevance_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRIEVAL-QUALITY certification: per-query reciprocal rank of the
    BM25 ranker against an independent relevance ground truth (a document
    is relevant to a query iff EVERY query term occurs >= 2 times in it —
    a coverage criterion the ranker does not optimize directly). This is
    the MRR eval loop a retrieval deployment runs on every index build,
    made hash-certifiable: ranks are decimal-exact BM25 order, rr is one
    exact-int division. (nDCG's log2 discount is a libm call, so it
    carries its contract via frozen decimal discount literals instead —
    see ndcg_relevance_contract, which shares this query's CTE chain.)

    Scale: per-(doc, term) tf is computed INSIDE the scan stage over the
    13-term union vocabulary (no explode of tokens); df and corpus stats
    broadcast; the per-query ranking window is PARTITIONED by query — each
    query's retrieved set, not the corpus, bounds a partition. The
    first-relevant rank is min(rk) over relevant rows, not a full sort
    consumed by a driver. nDCG and P-R@k rank the same _graded_scored
    chain."""
    from pyspark.sql.window import Window

    scored = _graded_scored(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(F.desc("score_dec"), F.asc("doc_id"))
    ranked = scored.select(
        "query_id", "doc_id", "min_tf", F.row_number().over(w).alias("rk")
    )
    # ONE pass over the ranking (round-15 opt): the retrieved count and
    # the relevant count/first-rank were two groupBys + a left join, each
    # re-running the whole scored+window chain; conditional aggregates
    # fold them into one — a query with no relevant rows gets
    # n_relevant = 0 and a NULL min, exactly the left join's null side.
    rel_cond = F.col("min_tf") >= _MRR_REL_TF
    per = ranked.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_retrieved"),
        F.count(F.when(rel_cond, F.lit(1))).cast("long").alias("_n_rel"),
        F.min(F.when(rel_cond, F.col("rk"))).cast("long").alias("_first_rel"),
    )
    return per.select(
        "query_id",
        "n_retrieved",
        F.coalesce("_n_rel", F.lit(0)).cast("long").alias("n_relevant"),
        F.coalesce("_first_rel", F.lit(0)).cast("long").alias("first_rel_rank"),
        F.when(
            F.col("_first_rel").isNotNull() & (F.col("_first_rel") > 0),
            F.lit(1.0) / F.col("_first_rel").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("rr"),
    )


# ---------------------------------------------------------------------------
# Dataset card: the per-source release summary, one plan
# ---------------------------------------------------------------------------


@register_query(
    "dataset_card_report",
    oracle=f"""
    WITH per_doc AS (
        SELECT doc_id, source, lang, md5(text) AS digest,
               CAST(len({_toks_sql()}) AS BIGINT) AS dl,
               {_LOGIT_SQL} AS logit
        FROM documents
    ),
    words AS (
        SELECT doc_id, UNNEST({_toks_sql()}) AS w FROM documents
    ),
    wf AS (
        SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM words GROUP BY doc_id, w
    ),
    gopher AS (
        SELECT doc_id,
               CAST(CASE WHEN SUM(c) BETWEEN 50 AND 100000
                          AND (SUM(c * length(w)) / SUM(c)) BETWEEN 3.0 AND 8.0
                          AND (MAX(c) / SUM(c)) <= 0.12
                          AND (1.0 - (COUNT(*) / SUM(c))) <= 0.95
                    THEN 1 ELSE 0 END AS BIGINT) AS keep
        FROM wf GROUP BY doc_id
    ),
    lang_counts AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
        FROM per_doc GROUP BY source, lang
    ),
    top_lang AS (
        SELECT source, lang AS top_lang, c AS top_lang_docs FROM (
            SELECT source, lang, c,
                   ROW_NUMBER() OVER (
                       PARTITION BY source ORDER BY c DESC, lang
                   ) AS rn
            FROM lang_counts
        ) WHERE rn = 1
    ),
    per_source AS (
        SELECT d.source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(d.dl) AS BIGINT) AS n_tokens,
               CAST(COUNT(DISTINCT d.lang) AS BIGINT) AS n_langs,
               CAST(COUNT(DISTINCT d.digest) AS BIGINT) AS n_distinct_texts,
               CAST(SUM(d.logit) AS BIGINT) AS sum_logit,
               CAST(SUM(g.keep) AS BIGINT) AS n_kept
        FROM per_doc d JOIN gopher g USING (doc_id)
        GROUP BY d.source
    )
    SELECT s.source, s.n_docs, s.n_tokens, s.n_langs,
           t.top_lang,
           CAST(t.top_lang_docs AS DOUBLE) / CAST(s.n_docs AS DOUBLE)
               AS top_lang_share,
           1.0 - (CAST(s.n_distinct_texts AS DOUBLE)
                  / CAST(s.n_docs AS DOUBLE)) AS exact_dup_rate,
           CAST(s.sum_logit AS DOUBLE) / CAST(s.n_docs AS DOUBLE)
               AS mean_quality_logit,
           CAST(s.n_kept AS DOUBLE) / CAST(s.n_docs AS DOUBLE)
               AS gopher_keep_rate
    FROM per_source s JOIN top_lang t USING (source)
    """,
)
def dataset_card_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source DATASET CARD: doc/token volume, language spread
    (count + dominant language share), exact-duplicate rate (md5 digest
    grain), mean model-quality logit, and heuristic keep rate — the
    summary table a corpus release ships and the first thing a curator
    reads when deciding per-source mixture weights. Composes four
    certified families (tokenization, hashing/dedup grain, the quality
    logit, the Gopher gates) in ONE plan.

    Scale: doc-level metrics (digest, dl, logit) are scan-stage; the
    Gopher flags reuse the certified two-aggregate word pipeline; per
    source the aggregation is partial-map-side (distinct-counts shuffle on
    (source, value) first — Spark plans count-distinct as a two-phase
    expand, each phase partial-aggregated). top-language is a window over
    |sources| x |langs| rows — dimension-sized, not corpus-sized."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = _toks(F.col("text"))
    # materialized once (round-15 opt): the language rollup and the final
    # per-source join both consume per_doc, whose per-token md5 logit is
    # the plan's priciest map expression
    from kasper_spark.lineage import cut_lineage

    per_doc = cut_lineage(
        docs.select(
            "doc_id",
            "source",
            "lang",
            F.md5(F.col("text")).alias("digest"),
            F.size(toks).cast("long").alias("dl"),
            _logit_expr().cast("bigint").alias("logit"),
        )
    )
    words = docs.select("doc_id", F.explode(_toks(F.col("text"))).alias("w"))
    wf = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    keep = (
        F.col("n_words").between(50, 100000)
        & (F.col("total_chars") / F.col("n_words")).between(3.0, 8.0)
        & ((F.col("top_cnt") / F.col("n_words")) <= 0.12)
        & ((F.lit(1.0) - (F.col("n_distinct") / F.col("n_words"))) <= 0.95)
    ).cast("long")
    gopher = (
        wf.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_words"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("c").alias("top_cnt"),
            F.sum(F.col("c") * F.length("w")).alias("total_chars"),
        )
        .select("doc_id", keep.alias("keep"))
    )
    lang_counts = per_doc.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w_top = Window.partitionBy("source").orderBy(F.desc("c"), F.asc("lang"))
    top_lang = (
        lang_counts.select(
            "source",
            F.col("lang").alias("top_lang"),
            F.col("c").alias("top_lang_docs"),
            F.row_number().over(w_top).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    per_source = (
        per_doc.join(gopher, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("dl").cast("long").alias("n_tokens"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.countDistinct("digest").cast("long").alias("n_distinct_texts"),
            F.sum("logit").cast("long").alias("sum_logit"),
            F.sum("keep").cast("long").alias("n_kept"),
        )
    )
    return per_source.join(F.broadcast(top_lang), "source").select(
        "source",
        "n_docs",
        "n_tokens",
        "n_langs",
        "top_lang",
        (
            F.col("top_lang_docs").cast("double") / F.col("n_docs").cast("double")
        ).alias("top_lang_share"),
        (
            F.lit(1.0)
            - F.col("n_distinct_texts").cast("double") / F.col("n_docs").cast("double")
        ).alias("exact_dup_rate"),
        (F.col("sum_logit").cast("double") / F.col("n_docs").cast("double")).alias(
            "mean_quality_logit"
        ),
        (F.col("n_kept").cast("double") / F.col("n_docs").cast("double")).alias(
            "gopher_keep_rate"
        ),
    )


# ---------------------------------------------------------------------------
# ROC-AUC of the quality classifier against the majority label
# ---------------------------------------------------------------------------


@register_query(
    "auc_label_quality",
    # The oracle states the NAIVE per-row average-rank form of the
    # Mann-Whitney AUC (rank every doc within its source); the Spark side
    # runs the scalable two-pass histogram rewrite over (source, score)
    # counts — the oracle-as-spec / plan-as-scale-path discipline. Ranks
    # are ascending by score; ties take the average rank, which the
    # cleared form 2r = 2*RANK + tiecount - 1 keeps in BIGINTs.
    oracle=f"""
    WITH scored AS (
        SELECT source,
               CAST({_LOGIT_SQL} AS BIGINT) AS score,
               CAST(({' + '.join(
                   f'CAST(({_LOGIT_SQL} + {_noise_sql(k)}) > 0 AS BIGINT)'
                   for k in _ANNOTATORS
               )}) >= 2 AS BIGINT) AS pos
        FROM documents
    ),
    ranked AS (
        SELECT source, pos,
               2 * RANK() OVER (PARTITION BY source ORDER BY score)
                   + COUNT(*) OVER (PARTITION BY source, score) - 1 AS two_r
        FROM scored
    ),
    agg AS (
        SELECT source,
               CAST(SUM(CASE WHEN pos = 1 THEN two_r ELSE 0 END) AS BIGINT)
                   AS two_r1,
               CAST(SUM(pos) AS BIGINT) AS n_pos,
               CAST(COUNT(*) - SUM(pos) AS BIGINT) AS n_neg
        FROM ranked GROUP BY source
    )
    SELECT source, n_pos, n_neg,
           CASE WHEN n_pos * n_neg = 0 THEN NULL
                ELSE CAST(two_r1 - n_pos * (n_pos + 1) AS DOUBLE)
                     / CAST(2 * n_pos * n_neg AS DOUBLE)
           END AS auc
    FROM agg
    """,
)
def auc_label_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source ROC-AUC of the hashed-ngram quality logit against the
    majority annotator label — the standard "is my quality classifier
    actually ranking well on THIS slice?" audit a curation pipeline runs
    before trusting classifier-filtered data. AUC is the Mann-Whitney
    statistic with average-rank tie handling: AUC = (2*R1 - n1(n1+1)) /
    (2*n1*n0) where R1 is the positives' rank-sum — every term an exact
    BIGINT, one double division at the end; degenerate slices (no
    positives or no negatives) emit NULL, not 0/0.

    The oracle ranks per row; this side never does: ranks come from the
    (source, score) HISTOGRAM — per tie group spanning [a, a+c-1],
    every member's doubled average rank is 2*cum_before + c + 1, so the
    positives' contribution is cnt_pos * that. The rank window then runs
    over score-distinct rows (bounded by the logit's value range), not
    corpus rows — the two-pass rewrite that survives a source with 10^10
    docs, certified by the hash match against the naive spec.

    Overflow bound: n_pos*(n_pos+1) and two_r1 stay under 2^63 for any
    source below ~2.1e9 positive docs — shard the audit by sub-slice past
    that (statistically preferable anyway)."""
    docs = load_table(spark, sf_dir, "documents")
    logit = _logit_expr()
    scored = docs.select(
        "source",
        logit.cast("bigint").alias("score"),
        (
            sum(
                ((logit + _noise_expr(k)) > 0).cast("bigint")
                for k in _ANNOTATORS
            )
            >= 2
        )
        .cast("bigint")
        .alias("pos"),
    )
    counts = scored.groupBy("source", "score").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("pos").cast("long").alias("cnt_pos"),
    )
    return auc_from_score_counts(counts)


def auc_from_score_counts(counts: DataFrame) -> DataFrame:
    """The AUC projection over merged (source, score, cnt, cnt_pos)
    histogram rows — the histogram is the op's mergeable sufficient
    statistic (integer counts sum across any partition of the corpus),
    shared by the batch audit and its streaming twin."""
    from pyspark.sql.window import Window

    w_cum = (
        Window.partitionBy("source")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = F.col("cnt_pos") * (
        2 * F.coalesce(F.sum("cnt").over(w_cum), F.lit(0)) + F.col("cnt") + 1
    )
    agg = (
        counts.select("source", "cnt", "cnt_pos", contrib.alias("contrib"))
        .groupBy("source")
        .agg(
            F.sum("contrib").cast("long").alias("two_r1"),
            F.sum("cnt_pos").cast("long").alias("n_pos"),
            (F.sum("cnt") - F.sum("cnt_pos")).cast("long").alias("n_neg"),
        )
    )
    return agg.select(
        "source",
        "n_pos",
        "n_neg",
        F.when(F.col("n_pos") * F.col("n_neg") == 0, F.lit(None).cast("double"))
        .otherwise(
            (F.col("two_r1") - F.col("n_pos") * (F.col("n_pos") + 1)).cast("double")
            / (2 * F.col("n_pos") * F.col("n_neg")).cast("double")
        )
        .alias("auc"),
    )


# late-bound oracle for the ingest twin (streaming_twins imports before
# this module; binding there would raise at import — the
# streaming_mixture_twin lesson)
from kasper_spark.registry import ORACLES as _OR  # noqa: E402

assert "auc_label_quality" in _OR, "batch AUC oracle missing (twin bind)"
_OR["streaming_auc_twin"] = _OR["auc_label_quality"]


# ---------------------------------------------------------------------------
# Experimentation tier (round 11): A/B z-test + CUPED
# ---------------------------------------------------------------------------

_CUPED_CUTOFF = "2024-01-16"  # pre-period / post-period boundary


@register_query(
    "ab_test_mean_ztest",
    oracle="""
    WITH per_user AS (
        SELECT user_id, user_id % 2 AS arm,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS y
        FROM events GROUP BY user_id
    ),
    arms AS (
        SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s,
               CAST(SUM(y * y) AS BIGINT) AS ss
        FROM per_user GROUP BY arm
    ),
    wide AS (
        SELECT
            MAX(CASE WHEN arm = 0 THEN n END) AS n_a,
            MAX(CASE WHEN arm = 0 THEN s END) AS s_a,
            MAX(CASE WHEN arm = 0 THEN ss END) AS ss_a,
            MAX(CASE WHEN arm = 1 THEN n END) AS n_b,
            MAX(CASE WHEN arm = 1 THEN s END) AS s_b,
            MAX(CASE WHEN arm = 1 THEN ss END) AS ss_b
        FROM arms
    )
    SELECT n_a, n_b,
           CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a,
           CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b,
           (CAST(n_a AS DOUBLE) * CAST(ss_a AS DOUBLE)
            - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE))
           / (CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE)) AS var_a,
           (CAST(n_b AS DOUBLE) * CAST(ss_b AS DOUBLE)
            - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE))
           / (CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE)) AS var_b,
           (CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)
            - CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE))
           / sqrt(((CAST(n_a AS DOUBLE) * CAST(ss_a AS DOUBLE)
                    - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE))
                   / (CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE)))
                  / CAST(n_a AS DOUBLE)
                  + ((CAST(n_b AS DOUBLE) * CAST(ss_b AS DOUBLE)
                      - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE))
                     / (CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE)))
                    / CAST(n_b AS DOUBLE)) AS z_stat,
           abs((CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                - CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE))
               / sqrt(((CAST(n_a AS DOUBLE) * CAST(ss_a AS DOUBLE)
                        - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE))
                       / (CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE)))
                      / CAST(n_a AS DOUBLE)
                      + ((CAST(n_b AS DOUBLE) * CAST(ss_b AS DOUBLE)
                          - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE))
                         / (CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE)))
                        / CAST(n_b AS DOUBLE))) > 1.96 AS significant_95
    FROM wide
    """,
)
def ab_test_mean_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample (Welch) z-test on the per-user purchase count — the
    experimentation-platform readout (arm = user_id parity as the
    deterministic hash split). A PROPORTION test saturates on this
    corpus (every active user purchases within the window, pooled
    variance 0 -> division by zero under ANSI — found by the gate), so
    the metric is the user-level MEAN with per-arm variances, which is
    what mature platforms test anyway (continuous metrics dominate
    conversion flags). The p-value needs the normal CDF (libm erf — not
    bit-portable), so the decision compares |z| against the literal
    1.96, which is how alerting thresholds are implemented anyway.

    Determinism: per-arm n / sum / sum-of-squares are exact BIGINTs;
    means, population variances and z are fixed double expressions over
    them (cast-to-double first; sqrt correctly rounded).

    Scale: one per-user partial agg, a 2-row arm aggregate, a 1-row
    report."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("y")
    ).select((F.col("user_id") % 2).alias("arm"), "y")
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("ss"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == 0, F.col("s"))).alias("s_a"),
        F.max(F.when(F.col("arm") == 0, F.col("ss"))).alias("ss_a"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == 1, F.col("s"))).alias("s_b"),
        F.max(F.when(F.col("arm") == 1, F.col("ss"))).alias("ss_b"),
    )

    def _mean(s, n):
        return F.col(s).cast("double") / F.col(n).cast("double")

    def _var(n, s, ss):
        nd = F.col(n).cast("double")
        return (
            nd * F.col(ss).cast("double")
            - F.col(s).cast("double") * F.col(s).cast("double")
        ) / (nd * nd)

    z = (_mean("s_b", "n_b") - _mean("s_a", "n_a")) / F.sqrt(
        _var("n_a", "s_a", "ss_a") / F.col("n_a").cast("double")
        + _var("n_b", "s_b", "ss_b") / F.col("n_b").cast("double")
    )
    return wide.select(
        "n_a",
        "n_b",
        _mean("s_a", "n_a").alias("mean_a"),
        _mean("s_b", "n_b").alias("mean_b"),
        _var("n_a", "s_a", "ss_a").alias("var_a"),
        _var("n_b", "s_b", "ss_b").alias("var_b"),
        z.alias("z_stat"),
        (F.abs(z) > 1.96).alias("significant_95"),
    )


@register_query(
    "cuped_adjusted_metric",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN ts < TIMESTAMP '{_CUPED_CUTOFF}'
                             THEN 1 ELSE 0 END) AS BIGINT) AS pre,
               CAST(SUM(CASE WHEN ts >= TIMESTAMP '{_CUPED_CUTOFF}'
                             THEN 1 ELSE 0 END) AS BIGINT) AS post
        FROM events GROUP BY user_id
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(pre) AS BIGINT) AS sx,
               CAST(SUM(post) AS BIGINT) AS sy,
               CAST(SUM(pre * post) AS BIGINT) AS sxy,
               CAST(SUM(pre * pre) AS BIGINT) AS sxx,
               CAST(SUM(post * post) AS BIGINT) AS syy
        FROM per_user
    )
    SELECT n, sx AS sum_pre, sy AS sum_post,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS theta,
           ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
           / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
               AS variance_reduction
    FROM stats
    """,
)
def cuped_adjusted_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM'13 — the standard
    experimentation-platform sensitivity boost): regress each user's
    post-period activity on their pre-period activity (theta =
    cov(pre, post) / var(pre)) and report the variance reduction the
    adjusted metric Y - theta*(X - mean(X)) achieves, which is exactly
    rho^2 — computed here as the cov^2/(varX*varY) ratio over cleared
    integer sufficient statistics. A platform applies theta per
    experiment readout; this operator certifies the estimator itself.

    Determinism: n / sums / cross-products are exact BIGINTs (counts
    per user are small; the product sums are bounded by (events per
    user)^2 * users — document-scale, not price-scale, so no decimal
    path needed: the sf-independent bound is events_per_user < ~3e4 at
    n_users < ~1e10); theta and rho^2 are fixed double expressions over
    those (cast-to-double first, the Benford discipline).

    Scale: one per-user partial agg -> a 1-row sufficient-statistic
    table -> a 1-row report."""
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_CUPED_CUTOFF).cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cutoff, 1).otherwise(0))
        .cast("long")
        .alias("pre"),
        F.sum(F.when(F.col("ts") >= cutoff, 1).otherwise(0))
        .cast("long")
        .alias("post"),
    )
    stats = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pre").cast("long").alias("sx"),
        F.sum("post").cast("long").alias("sy"),
        F.sum(F.col("pre") * F.col("post")).cast("long").alias("sxy"),
        F.sum(F.col("pre") * F.col("pre")).cast("long").alias("sxx"),
        F.sum(F.col("post") * F.col("post")).cast("long").alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    cov = nd * F.col("sxy").cast("double") - sx * sy
    var_x = nd * F.col("sxx").cast("double") - sx * sx
    var_y = nd * F.col("syy").cast("double") - sy * sy
    return stats.select(
        "n",
        F.col("sx").alias("sum_pre"),
        F.col("sy").alias("sum_post"),
        (cov / var_x).alias("theta"),
        ((cov * cov) / (var_x * var_y)).alias("variance_reduction"),
    )


# ---------------------------------------------------------------------------
# Always-valid sequential test (mSPRT, round 12)
# ---------------------------------------------------------------------------

_MSPRT_TAU2 = 0.01  # normal mixture prior N(0, tau^2) on the mean effect
_MSPRT_LN_INV_ALPHA = 2.9957322735539909  # ln(1/0.05), literal (zero-libm)

_MSPRT_ORACLE = f"""
    WITH per_user AS (
        SELECT user_id, user_id % 2 AS arm,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS y
        FROM events GROUP BY user_id
    ),
    arms AS (
        SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s,
               CAST(SUM(y * y) AS BIGINT) AS ss
        FROM per_user GROUP BY arm
    ),
    wide AS (
        SELECT
            MAX(CASE WHEN arm = 0 THEN n END) AS n_a,
            MAX(CASE WHEN arm = 0 THEN s END) AS s_a,
            MAX(CASE WHEN arm = 0 THEN ss END) AS ss_a,
            MAX(CASE WHEN arm = 1 THEN n END) AS n_b,
            MAX(CASE WHEN arm = 1 THEN s END) AS s_b,
            MAX(CASE WHEN arm = 1 THEN ss END) AS ss_b
        FROM arms
    ),
    calc AS (
        SELECT n_a, n_b,
               CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                   - CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS delta,
               ((CAST(n_a AS DOUBLE) * CAST(ss_a AS DOUBLE)
                 - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE))
                / (CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE)))
                   / CAST(n_a AS DOUBLE)
               + ((CAST(n_b AS DOUBLE) * CAST(ss_b AS DOUBLE)
                   - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE))
                  / (CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE)))
                   / CAST(n_b AS DOUBLE) AS v_n
        FROM wide
    ),
    terms AS (
        SELECT n_a, n_b, delta, v_n,
               {_MSPRT_TAU2} / v_n AS mixture_u,
               delta * delta * {_MSPRT_TAU2}
                   / (2 * v_n * (v_n + {_MSPRT_TAU2})) AS lr_exponent
        FROM calc
    )
    SELECT n_a, n_b, delta, v_n, mixture_u, lr_exponent,
           lr_exponent - mixture_u / 2 AS log_e_lower,
           lr_exponent - mixture_u / 2 > {_MSPRT_LN_INV_ALPHA}
               AS significant_always_valid
    FROM terms
    """


@register_query("ab_test_msprt", oracle=_MSPRT_ORACLE)
def ab_test_msprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid sequential readout (mSPRT — Johari, Pekelis & Walsh's
    "peeking" fix; Robbins' normal mixture) over the SAME per-user
    sufficient statistics as ab_test_mean_ztest. The fixed-horizon z-test
    is only valid when read ONCE at a pre-registered n: a platform
    dashboard refreshed daily reads it hundreds of times, and the
    probability that ANY read crosses 1.96 under the null climbs toward
    certainty (the peeking problem). The mSPRT's mixture likelihood
    ratio Lambda_n = sqrt(V/(V+tau^2)) * exp(delta^2 tau^2 /
    (2V(V+tau^2))) is a nonnegative martingale under H0, so by Ville's
    inequality P(sup_n Lambda_n >= 1/alpha) <= alpha — the decision
    "reject when Lambda >= 1/alpha" is valid at EVERY look
    simultaneously; Lambda is exactly the e-value the always-valid
    literature monitors.

    Zero-libm decision (the bigram-surprisal discipline — exp/ln are not
    bit-portable across engines): with u = tau^2/V,
    ln Lambda = g - ln(1+u)/2 for g = delta^2 tau^2 / (2V(V+tau^2)),
    and ln(1+u) <= u gives the ALGEBRAIC lower bound
    log_e_lower = g - u/2 <= ln Lambda. Rejecting when
    log_e_lower > ln(1/alpha) (a literal) is therefore slightly
    conservative — it can only under-reject, so the always-valid
    type-I guarantee is preserved — and every reported column is pure
    arithmetic over exact integer sufficient statistics: bit-identical
    on both engines. (As V -> 0 with n, u -> 0 and the bound tightens
    to the exact test.)

    Scale: identical to the z-test — one per-user partial agg, a 2-row
    arm table, a 1-row report; the sequential guarantee costs nothing
    at the plan level, which is why platforms default to it."""
    ev = load_table(spark, sf_dir, "events")
    return msprt_report_from_user_counts(msprt_user_counts(ev))


def msprt_user_counts(ev: DataFrame) -> DataFrame:
    """Mergeable half of ab_test_msprt: per-user purchase counts
    (user_id, y). Summing y by user across any batch cut reproduces the
    batch partials — what streaming_msprt_twin certifies. The user id is
    kept (not the arm) so the merge key is the true entity."""
    return ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("y")
    )


def msprt_report_from_user_counts(per_user_raw: DataFrame) -> DataFrame:
    """Finalize half of ab_test_msprt over (merged) per-user counts."""
    per_user = per_user_raw.select((F.col("user_id") % 2).alias("arm"), "y")
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("ss"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == 0, F.col("s"))).alias("s_a"),
        F.max(F.when(F.col("arm") == 0, F.col("ss"))).alias("ss_a"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == 1, F.col("s"))).alias("s_b"),
        F.max(F.when(F.col("arm") == 1, F.col("ss"))).alias("ss_b"),
    )

    def _mean(s, n):
        return F.col(s).cast("double") / F.col(n).cast("double")

    def _var(n, s, ss):
        nd = F.col(n).cast("double")
        return (
            nd * F.col(ss).cast("double")
            - F.col(s).cast("double") * F.col(s).cast("double")
        ) / (nd * nd)

    delta = _mean("s_b", "n_b") - _mean("s_a", "n_a")
    v_n = _var("n_a", "s_a", "ss_a") / F.col("n_a").cast("double") + _var(
        "n_b", "s_b", "ss_b"
    ) / F.col("n_b").cast("double")
    calc = wide.select(
        "n_a", "n_b", delta.alias("delta"), v_n.alias("v_n")
    )
    tau2 = F.lit(_MSPRT_TAU2)
    terms = calc.select(
        "n_a",
        "n_b",
        "delta",
        "v_n",
        (tau2 / F.col("v_n")).alias("mixture_u"),
        (
            F.col("delta") * F.col("delta") * tau2
            / (F.lit(2) * F.col("v_n") * (F.col("v_n") + tau2))
        ).alias("lr_exponent"),
    )
    log_e_lower = F.col("lr_exponent") - F.col("mixture_u") / F.lit(2)
    return terms.select(
        "n_a",
        "n_b",
        "delta",
        "v_n",
        "mixture_u",
        "lr_exponent",
        log_e_lower.alias("log_e_lower"),
        (log_e_lower > F.lit(_MSPRT_LN_INV_ALPHA)).alias(
            "significant_always_valid"
        ),
    )


# ---------------------------------------------------------------------------
# Experiment health: sample-ratio mismatch + minimum detectable effect (r12)
# ---------------------------------------------------------------------------

_SRM_CHI2_95 = 3.841458820694124  # chi^2_{1, 0.95}, literal (zero-libm)
# z_{0.975} + z_{0.80}: the 80%-power two-sided-5% MDE multiplier, literal
_MDE_Z_SUM = 2.8016212335729143


@register_query(
    "ab_test_srm_check",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id, user_id % 2 AS arm FROM events GROUP BY user_id
    ),
    counts AS (
        SELECT
            CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
            CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        FROM per_user
    )
    SELECT n_a, n_b,
           CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
               / CAST(n_a + n_b AS DOUBLE) AS chi2,
           CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
               / CAST(n_a + n_b AS DOUBLE) > {_SRM_CHI2_95} AS srm_detected
    FROM counts
    """,
)
def ab_test_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio mismatch check — the guardrail every experimentation
    platform runs BEFORE reading any metric: if the 50/50 assignment's
    realized unit counts deviate more than chance allows, the experiment
    is corrupted (broken bucketing, bot filtering applied per-arm, logging
    loss) and all readouts are void. For a 2-cell 50/50 design Pearson's
    chi-square collapses algebraically to (n_a - n_b)^2 / (n_a + n_b) —
    an exact-integer numerator over an exact-integer denominator, one
    double division — compared against the literal chi^2_{1,0.95}
    critical value (zero-libm: no CDF call on either engine).

    Scale: one per-user dedup shuffle -> 1-row counts -> 1-row report."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.select("user_id").distinct().select(
        (F.col("user_id") % 2).alias("arm")
    )
    counts = per_user.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    d = F.col("n_a") - F.col("n_b")
    chi2 = (d * d).cast("double") / (F.col("n_a") + F.col("n_b")).cast("double")
    return counts.select(
        "n_a",
        "n_b",
        chi2.alias("chi2"),
        (chi2 > F.lit(_SRM_CHI2_95)).alias("srm_detected"),
    )


@register_query(
    "ab_test_mde_report",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id, user_id % 2 AS arm,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS y
        FROM events GROUP BY user_id
    ),
    arms AS (
        SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s,
               CAST(SUM(y * y) AS BIGINT) AS ss
        FROM per_user GROUP BY arm
    ),
    wide AS (
        SELECT
            MAX(CASE WHEN arm = 0 THEN n END) AS n_a,
            MAX(CASE WHEN arm = 0 THEN s END) AS s_a,
            MAX(CASE WHEN arm = 0 THEN ss END) AS ss_a,
            MAX(CASE WHEN arm = 1 THEN n END) AS n_b,
            MAX(CASE WHEN arm = 1 THEN s END) AS s_b,
            MAX(CASE WHEN arm = 1 THEN ss END) AS ss_b
        FROM arms
    ),
    calc AS (
        SELECT n_a, n_b,
               CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a,
               ((CAST(n_a AS DOUBLE) * CAST(ss_a AS DOUBLE)
                 - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE))
                / (CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE)))
                   / CAST(n_a AS DOUBLE)
               + ((CAST(n_b AS DOUBLE) * CAST(ss_b AS DOUBLE)
                   - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE))
                  / (CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE)))
                   / CAST(n_b AS DOUBLE) AS v_n
        FROM wide
    )
    SELECT n_a, n_b, mean_a, v_n,
           {_MDE_Z_SUM} * sqrt(v_n) AS mde_abs,
           {_MDE_Z_SUM} * sqrt(v_n) / mean_a AS mde_rel
    FROM calc
    """,
)
def ab_test_mde_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect at the CURRENT sample size — the power
    readout a platform shows next to every running experiment ("you can
    currently detect a +X% lift with 80% power"): mde = (1.96 +
    z_{0.80}) * SE(delta) — the same 1.96 literal the z-test decides
    with, plus z_{0.80} = 0.8416212335729143, summed once into the
    2.8016... LITERAL so no inverse-CDF call exists on either engine — and SE^2 = var_a/n_a +
    var_b/n_b the same Welch variance the z-test and mSPRT use. Relative
    MDE divides by the control mean.

    Scale: the z-test plan verbatim — per-user partial agg, 2-row arms,
    1-row report."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("y")
    ).select((F.col("user_id") % 2).alias("arm"), "y")
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("ss"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == 0, F.col("s"))).alias("s_a"),
        F.max(F.when(F.col("arm") == 0, F.col("ss"))).alias("ss_a"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == 1, F.col("s"))).alias("s_b"),
        F.max(F.when(F.col("arm") == 1, F.col("ss"))).alias("ss_b"),
    )

    def _var_over_n(n, s, ss):
        nd = F.col(n).cast("double")
        return (
            (
                nd * F.col(ss).cast("double")
                - F.col(s).cast("double") * F.col(s).cast("double")
            )
            / (nd * nd)
        ) / nd

    mean_a = F.col("s_a").cast("double") / F.col("n_a").cast("double")
    v_n = _var_over_n("n_a", "s_a", "ss_a") + _var_over_n("n_b", "s_b", "ss_b")
    calc = wide.select(
        "n_a", "n_b", mean_a.alias("mean_a"), v_n.alias("v_n")
    )
    mde = F.lit(_MDE_Z_SUM) * F.sqrt(F.col("v_n"))
    return calc.select(
        "n_a",
        "n_b",
        "mean_a",
        "v_n",
        mde.alias("mde_abs"),
        (mde / F.col("mean_a")).alias("mde_rel"),
    )


# ---------------------------------------------------------------------------
# nDCG@10 relevance contract (round 12)
# ---------------------------------------------------------------------------

# 1/log2(i+1) for rank i = 1..10, QUANTIZED to 12 decimals and embedded as
# the SAME decimal literals in both engines: the discount table is part of
# the metric definition here, so nDCG — whose textbook form needs log2, a
# libm call that is not bit-portable (the MRR docstring's old caveat) —
# becomes exact-DECIMAL arithmetic end to end. Computed once by
# tools-of-record Python (math.log2) and frozen.
_NDCG_K = 10
_NDCG_DISCOUNTS = (
    "1.000000000000",
    "0.630929753571",
    "0.500000000000",
    "0.430676558073",
    "0.386852807235",
    "0.356207187108",
    "0.333333333333",
    "0.315464876786",
    "0.301029995664",
    "0.289064826318",
)
_NDCG_MAX_GRADE = 4  # graded relevance: grade = LEAST(min_tf, 4)

_NDCG_DISC_SQL = ", ".join(
    f"({i + 1}, CAST('{d}' AS DECIMAL(14,12)))"
    for i, d in enumerate(_NDCG_DISCOUNTS)
)


@register_query(
    "ndcg_relevance_contract",
    oracle=_bm25_graded_scored_sql()
    + f""",
    ranked AS (
        SELECT query_id, doc_id,
               LEAST(min_tf, {_NDCG_MAX_GRADE}) AS grade,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY score_dec DESC, doc_id
               ) AS rk
        FROM scored WHERE score_dec > 0
    ),
    top AS (SELECT * FROM ranked WHERE rk <= {_NDCG_K}),
    ideal AS (
        SELECT query_id, grade,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY grade DESC, doc_id
               ) AS irk
        FROM top
    ),
    disc AS (SELECT * FROM (VALUES {_NDCG_DISC_SQL}) AS d(rk, w)),
    dcg AS (
        SELECT t.query_id,
               CAST(COUNT(*) AS BIGINT) AS n_top,
               CAST(SUM(CAST(t.grade * d.w AS DECIMAL(38,12)))
                    AS DECIMAL(38,12)) AS dcg_dec
        FROM top t JOIN disc d ON d.rk = t.rk
        GROUP BY t.query_id
    ),
    idcg AS (
        SELECT i.query_id,
               CAST(SUM(CAST(i.grade * d.w AS DECIMAL(38,12)))
                    AS DECIMAL(38,12)) AS idcg_dec
        FROM ideal i JOIN disc d ON d.rk = i.irk
        GROUP BY i.query_id
    )
    SELECT CAST(g.query_id AS BIGINT) AS query_id, g.n_top,
           CAST(g.dcg_dec AS DOUBLE) AS dcg,
           CAST(c.idcg_dec AS DOUBLE) AS idcg,
           CASE WHEN c.idcg_dec > 0
                THEN CAST(g.dcg_dec AS DOUBLE) / CAST(c.idcg_dec AS DOUBLE)
                ELSE 0.0 END AS ndcg
    FROM dcg g JOIN idcg c USING (query_id)
    """,
)
def ndcg_relevance_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the BM25 ranker against graded relevance — the ranking
    metric the MRR contract's docstring declared out of reach because its
    log2 discount is a libm call. The unlock: the 10 discounts
    1/log2(i+1) are FROZEN as 12-decimal literals (part of the metric
    definition, like 1.96 in the z-test), so DCG = sum(grade * w_i) and
    the ideal-permutation IDCG are exact DECIMAL(38,12) sums — order
    independent, bit-identical — and only the final ratio is a double
    division. Grades are LEAST(min_tf, 4) over the same per-(query, doc)
    min term frequency the MRR ground truth uses; ranks are the same
    decimal-exact BM25 order (shared CTE chain / plan halves with
    mrr_relevance_contract).

    Scale: identical to MRR — scan-stage tf over the 13-term union
    vocabulary, broadcast df/stats/query-terms/discounts, per-query
    ranking windows bounded by the retrieved set."""
    from pyspark.sql.window import Window

    scored = _graded_scored(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(F.desc("score_dec"), F.asc("doc_id"))
    top = (
        scored.select(
            "query_id",
            "doc_id",
            F.least(F.col("min_tf"), F.lit(_NDCG_MAX_GRADE)).alias("grade"),
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= _NDCG_K)
    )
    wi = Window.partitionBy("query_id").orderBy(F.desc("grade"), F.asc("doc_id"))
    ideal = top.select("query_id", "grade", F.row_number().over(wi).alias("irk"))
    disc = spark.createDataFrame(
        [(i + 1, d) for i, d in enumerate(_NDCG_DISCOUNTS)],
        "rk int, w_str string",
    ).select("rk", F.col("w_str").cast("decimal(14,12)").alias("w"))
    dcg = (
        top.join(F.broadcast(disc), "rk")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_top"),
            F.sum((F.col("grade") * F.col("w")).cast("decimal(38,12)"))
            .cast("decimal(38,12)")
            .alias("dcg_dec"),
        )
    )
    idcg = (
        ideal.join(F.broadcast(disc.select(F.col("rk").alias("irk"), "w")), "irk")
        .groupBy("query_id")
        .agg(
            F.sum((F.col("grade") * F.col("w")).cast("decimal(38,12)"))
            .cast("decimal(38,12)")
            .alias("idcg_dec")
        )
    )
    return dcg.join(idcg, "query_id").select(
        "query_id",
        "n_top",
        F.col("dcg_dec").cast("double").alias("dcg"),
        F.col("idcg_dec").cast("double").alias("idcg"),
        F.when(
            F.col("idcg_dec") > 0,
            F.col("dcg_dec").cast("double") / F.col("idcg_dec").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("ndcg"),
    )


# ---------------------------------------------------------------------------
# Churn label builder (round 12)
# ---------------------------------------------------------------------------


@register_query(
    "churn_label_builder",
    oracle=f"""
    SELECT user_id,
           CAST(SUM(CASE WHEN ts < TIMESTAMP '{_CUPED_CUTOFF}'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_events_pre,
           CAST(SUM(CASE WHEN ts < TIMESTAMP '{_CUPED_CUTOFF}'
                          AND event_type = 'purchase'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases_pre,
           CAST(COUNT(DISTINCT CASE WHEN ts < TIMESTAMP '{_CUPED_CUTOFF}'
                                    THEN CAST(ts AS DATE) END)
                AS BIGINT) AS active_days_pre,
           SUM(CASE WHEN ts >= TIMESTAMP '{_CUPED_CUTOFF}'
                    THEN 1 ELSE 0 END) = 0 AS churned
    FROM events
    GROUP BY user_id
    HAVING SUM(CASE WHEN ts < TIMESTAMP '{_CUPED_CUTOFF}'
                    THEN 1 ELSE 0 END) > 0
    """,
)
def churn_label_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn-prediction TRAINING TABLE: per user, observation-window
    features (event count, purchase count, distinct active days before
    the cutoff) and the label — churned = zero activity in the outcome
    window at or after the cutoff. This is the label-leakage-safe
    supervised-dataset shape every retention model starts from: features
    draw ONLY on the pre-cutoff window, the label ONLY on the post
    window, and the two are built in the same single pass as disjoint
    conditional aggregates so no join can smuggle post-cutoff signal
    into a feature (the deterministic-splits / leakage-audit
    discipline). Users with no pre-cutoff activity are excluded — they
    have no feature support and would all be trivially 'churned-at-
    birth' rows.

    Scale: one per-user partial-aggregated shuffle; the distinct-day
    count is per-(user, day) cardinality inside the agg — all integer
    sufficient statistics, no window functions."""
    ev = load_table(spark, sf_dir, "events")
    return churn_labels_from_partials(churn_daily_partials(ev))


def churn_daily_partials(ev: DataFrame) -> DataFrame:
    """Mergeable half of churn_label_builder: per-(user, activity-day,
    pre/post) integer counters. Day grain (not per-user) so the
    distinct-active-days feature stays mergeable — summing counters by
    (user, day, pre) across any batch cut reproduces the batch partials,
    which is what streaming_churn_twin certifies."""
    cutoff = F.lit(_CUPED_CUTOFF).cast("timestamp")
    return ev.groupBy(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        (F.col("ts") < cutoff).alias("pre"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("n_purchases"),
    )


def churn_labels_from_partials(p: DataFrame) -> DataFrame:
    """Finalize half of churn_label_builder over (merged) daily partials."""
    pre = F.col("pre")
    out = p.groupBy("user_id").agg(
        F.coalesce(F.sum(F.when(pre, F.col("n_events"))), F.lit(0))
        .cast("long")
        .alias("n_events_pre"),
        F.coalesce(F.sum(F.when(pre, F.col("n_purchases"))), F.lit(0))
        .cast("long")
        .alias("n_purchases_pre"),
        F.count_distinct(F.when(pre, F.col("day")))
        .cast("long")
        .alias("active_days_pre"),
        (
            F.coalesce(F.sum(F.when(~pre, F.col("n_events"))), F.lit(0)) == 0
        ).alias("churned"),
    )
    return out.filter(F.col("n_events_pre") > 0)


# --- forward oracle binding (see operators/streaming_twins.py) -----------
from kasper_spark.registry import ORACLES as _OR  # noqa: E402
from kasper_spark.registry import QUERIES as _Q  # noqa: E402

assert "churn_label_builder" in _OR, "batch churn oracle missing"
assert "streaming_churn_twin" in _Q, "twin missing (import order)"
_OR["streaming_churn_twin"] = _OR["churn_label_builder"]

assert "ab_test_msprt" in _OR, "batch mSPRT oracle missing"
assert "streaming_msprt_twin" in _Q, "twin missing (import order)"
_OR["streaming_msprt_twin"] = _OR["ab_test_msprt"]


# ---------------------------------------------------------------------------
# Precision/recall@k (round 12): completes the ranking-eval family
# ---------------------------------------------------------------------------

_PRK_K = 5


@register_query(
    "precision_recall_at_k",
    oracle=_bm25_graded_scored_sql()
    + f""",
    ranked AS (
        SELECT query_id, doc_id, min_tf,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY score_dec DESC, doc_id
               ) AS rk
        FROM scored WHERE score_dec > 0
    ),
    rel AS (
        SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_relevant
        FROM ranked WHERE min_tf >= {_MRR_REL_TF} GROUP BY query_id
    ),
    hits AS (
        SELECT query_id,
               CAST(SUM(CASE WHEN min_tf >= {_MRR_REL_TF}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
               CAST(COUNT(*) AS BIGINT) AS n_top
        FROM ranked WHERE rk <= {_PRK_K} GROUP BY query_id
    )
    SELECT CAST(h.query_id AS BIGINT) AS query_id,
           h.n_top, h.n_hits,
           COALESCE(r.n_relevant, 0) AS n_relevant,
           CAST(h.n_hits AS DOUBLE) / CAST(h.n_top AS DOUBLE)
               AS precision_at_k,
           CASE WHEN COALESCE(r.n_relevant, 0) > 0
                THEN CAST(h.n_hits AS DOUBLE) / CAST(r.n_relevant AS DOUBLE)
                ELSE 0.0 END AS recall_at_k
    FROM hits h LEFT JOIN rel r USING (query_id)
    """,
)
def precision_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision@5 and recall@5 of the BM25 ranker against the shared
    min-tf relevance ground truth — with MRR (first-hit rank) and nDCG
    (graded positions) this completes the standard ranking-eval family,
    all three riding the SAME decimal-exact scored CTE so one index
    build is judged from every angle a retrieval deployment reports.
    Pure counting: hits in the top-k and the relevant-set size are exact
    BIGINTs, the two ratios are single exact-int double divisions.

    Scale: the shared scored/ranked shape (scan-stage tf, broadcast
    df/stats, per-query windows); the metric adds only two bounded
    aggregates over the rank-filtered rows."""
    from pyspark.sql.window import Window

    scored = _graded_scored(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(F.desc("score_dec"), F.asc("doc_id"))
    ranked = cut_lineage(
        scored.select(
            "query_id", "doc_id", "min_tf", F.row_number().over(w).alias("rk")
        )
    )
    rel = (
        ranked.filter(F.col("min_tf") >= _MRR_REL_TF)
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_relevant"))
    )
    hits = (
        ranked.filter(F.col("rk") <= _PRK_K)
        .groupBy("query_id")
        .agg(
            F.sum(F.when(F.col("min_tf") >= _MRR_REL_TF, 1).otherwise(0))
            .cast("long")
            .alias("n_hits"),
            F.count(F.lit(1)).cast("long").alias("n_top"),
        )
    )
    return hits.join(rel, "query_id", "left").select(
        "query_id",
        "n_top",
        "n_hits",
        F.coalesce("n_relevant", F.lit(0)).cast("long").alias("n_relevant"),
        (F.col("n_hits").cast("double") / F.col("n_top").cast("double")).alias(
            "precision_at_k"
        ),
        F.when(
            F.coalesce("n_relevant", F.lit(0)) > 0,
            F.col("n_hits").cast("double") / F.col("n_relevant").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("recall_at_k"),
    )
