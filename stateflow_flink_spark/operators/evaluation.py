"""Model-evaluation aggregates over the embedding corpus — ROC-AUC and
calibration, the two curves every classifier eval report starts with.
Completes the eval family (q_knn_eval confusion cells, q_eval_ndcg
ranking quality, q_regression_eval fit metrics) with the
threshold-free discrimination and reliability views.

Shared setup: the "classifier" under eval is the similarity scorer the
ANN family serves — predicted score s(v) = cosine(v, corpus[0]),
rounded to 6 dp (the module-wide cross-engine float discipline), truth
y(v) = label >= 5.  Deterministic, engine-identical, and the exact
shape of a real retrieval-as-classification eval.

Scale shape (both queries): scores NEVER meet a global row-level sort.
The 6 dp rounding makes the score domain FINITE (<= 2,000,001 distinct
values in [-1, 1]) so both queries aggregate to a per-score histogram
first — one map-side-combining groupBy over the corpus — and run their
window / binning over the bounded histogram.  AUC via the Mann-Whitney
rank-sum needs ranks of a 100 TB corpus; ranks of its <= 2e6-row score
histogram are the same ranks, computed on one executor's worth of
data.  (A row-level RANK() window would be the single-reducer sort the
RFM scale path exists to avoid.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from ..io import load
from ..plans.registry import query
from .similarity import cosine_arrow

_POS_LABEL_MIN = 5  # labels 0-9 in the fixtures; >= 5 is the positive class

# score histogram + probe-vector CTEs shared by both oracles
_SCORED_SQL = f"""
        SELECT e.vec_id,
               CASE WHEN e.label >= {_POS_LABEL_MIN} THEN 1 ELSE 0 END AS y,
               ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
                                            q.qe::DOUBLE[]), 6) AS s
        FROM embeddings e,
             (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
        WHERE e.vec_id <> 0
"""

_AUC_ORACLE = f"""
    WITH scored AS ({_SCORED_SQL}),
    hist AS (
        SELECT s, COUNT(*) AS cnt, SUM(y) AS pos
        FROM scored GROUP BY s
    ),
    ranked AS (
        -- doubled tie-sharing average rank 2*min_rank + ties - 1 (an
        -- integer), from a cumulative count over the bounded histogram
        SELECT cnt, pos,
               2 * (COALESCE(SUM(cnt) OVER (ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1)
                   + cnt - 1 AS r2
        FROM hist
    )
    SELECT CAST(npos AS BIGINT) AS n_pos,
           CAST(nneg AS BIGINT) AS n_neg,
           -- single-class corpus => AUC undefined: NULL, not a 0/0 NaN
           CASE WHEN npos = 0 OR nneg = 0 THEN NULL
                ELSE CAST(s2pos - npos * (npos + 1) AS DOUBLE)
                     / (2.0 * npos * nneg) END AS auc
    FROM (
        SELECT SUM(pos) AS npos,
               SUM(cnt) - SUM(pos) AS nneg,
               SUM(pos * r2) AS s2pos
        FROM ranked
    )
"""


@query("q_eval_auc", _AUC_ORACLE)
def q_eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of the cosine scorer via the Mann-Whitney rank-sum
    identity AUC = (S_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg), with
    tie-sharing average ranks — the standard exact AUC (equivalent to
    the trapezoidal ROC integral with ties at 0.5 credit).

    Integer-exact: ranks come from a cumulative count over the BOUNDED
    6 dp score histogram (module docstring), doubled average ranks
    r2 = 2*min_rank + ties - 1 stay integers, and the single final
    division is double-on-exact-integers in both engines."""
    e = load(spark, sf_dir, "embeddings")
    qe = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(broadcast(qe))
        .select(
            (F.col("label") >= _POS_LABEL_MIN).cast("long").alias("y"),
            F.round(cosine_arrow(F.col("embedding"), F.col("qe")), 6).alias("s"),
        )
    )
    hist = scored.groupBy("s").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("pos")
    )
    # bounded-domain window: <= 2e6 rows regardless of corpus size
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    ranked = hist.select(
        "cnt",
        "pos",
        (
            F.lit(2) * (F.coalesce(F.sum("cnt").over(w), F.lit(0)) + 1)
            + F.col("cnt")
            - 1
        ).alias("r2"),
    )
    n_pos = F.sum("pos")
    n_neg = F.sum("cnt") - F.sum("pos")
    return ranked.agg(
        n_pos.cast("bigint").alias("n_pos"),
        n_neg.cast("bigint").alias("n_neg"),
        # single-class corpus => AUC undefined: NULL, not a 0/0 NaN
        F.when(
            (n_pos > 0) & (n_neg > 0),
            (F.sum(F.col("pos") * F.col("r2")) - n_pos * (n_pos + 1)).cast("double")
            / (F.lit(2.0) * n_pos * n_neg),
        ).alias("auc"),
    )


_CAL_BINS = 10

_CAL_ORACLE = f"""
    WITH scored AS ({_SCORED_SQL}),
    q AS (
        SELECT y,
               -- pred = (s+1)/2 carried as HALF-MICROS (2e6 * pred, an
               -- exact integer for every 6 dp score)
               CAST(ROUND(s * 1000000) AS BIGINT) + 1000000 AS phm
        FROM scored
    )
    SELECT LEAST(phm * {_CAL_BINS} // 2000000, {_CAL_BINS - 1}) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(SUM(phm) AS DOUBLE) / (COUNT(*) * 2000000.0) AS mean_pred,
           CAST(SUM(y) AS DOUBLE) / COUNT(*) AS pos_rate
    FROM q
    GROUP BY 1
"""


@query("q_calibration_bins", _CAL_ORACLE)
def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the cosine scorer: predicted probability
    pred = (s+1)/2 bucketed into {_CAL_BINS} equal-width bins; per bin
    the count, positive count, mean prediction, and empirical positive
    rate — the (mean_pred, pos_rate) gap per bin IS the calibration
    error every eval report plots (and sums into ECE).

    Exactness: pred rides as half-micro integers (2e6 * pred, exact for
    6 dp scores), so the bin id is an integer floor-div and the two
    means are double divisions of exact integer sums.  One map-side-
    combining groupBy on a {_CAL_BINS}-value key: no window, no sort,
    nothing driver-side — the flattest aggregation shape there is."""
    e = load(spark, sf_dir, "embeddings")
    qe = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(broadcast(qe))
        .select(
            (F.col("label") >= _POS_LABEL_MIN).cast("long").alias("y"),
            F.round(cosine_arrow(F.col("embedding"), F.col("qe")), 6).alias("s"),
        )
    )
    q = scored.select(
        "y",
        (F.round(F.col("s") * 1_000_000).cast("bigint") + 1_000_000).alias("phm"),
    )
    return (
        q.groupBy(
            F.least(
                F.expr(f"phm * {_CAL_BINS} div 2000000"),
                F.lit(_CAL_BINS - 1),
            ).alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("n_pos"),
            (
                F.sum("phm").cast("double")
                / (F.count(F.lit(1)) * F.lit(2_000_000.0))
            ).alias("mean_pred"),
            (F.sum("y").cast("double") / F.count(F.lit(1))).alias("pos_rate"),
        )
    )


_PR_ORACLE = f"""
    WITH scored AS ({_SCORED_SQL}),
    q AS (
        SELECT y,
               CAST(ROUND(s * 1000000) AS BIGINT) + 1000000 AS phm
        FROM scored
    ),
    thr(k) AS (SELECT UNNEST(GENERATE_SERIES(1, 9))),
    cells AS (
        SELECT k,
               SUM(CASE WHEN phm >= k * 200000 THEN y ELSE 0 END) AS tp,
               SUM(CASE WHEN phm >= k * 200000 THEN 1 - y ELSE 0 END) AS fp,
               SUM(CASE WHEN phm <  k * 200000 THEN y ELSE 0 END) AS fn
        FROM q CROSS JOIN thr
        GROUP BY k
    )
    SELECT CAST(k AS DOUBLE) / 10.0 AS threshold,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           CASE WHEN tp + fp = 0 THEN 0.0
                ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
           CASE WHEN tp + fn = 0 THEN 0.0
                ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS recall,
           CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
                ELSE 2.0 * tp / (2 * tp + fp + fn) END AS f1
    FROM cells
"""


@query("q_eval_pr_curve", _PR_ORACLE)
def q_eval_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision / recall / F1 at nine decile thresholds of the cosine
    scorer's predicted probability — the operating-point sweep behind
    every PR curve (AUC says WHETHER the scorer discriminates; this
    says WHERE to cut it).

    Exactness: thresholds live in the same half-micro integer domain as
    the predictions (pred >= k/10 <=> phm >= 200000k, exact), TP/FP/FN
    are integer conditional sums, and F1 uses the division-free
    2tp/(2tp+fp+fn) identity so every ratio is one double division of
    exact integers.  Scale shape: a 9-row broadcast cross join into the
    score pass, then a 9-key groupBy — conditional aggregation, no
    window, no per-threshold rescan."""
    e = load(spark, sf_dir, "embeddings")
    qe = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(broadcast(qe))
        .select(
            (F.col("label") >= _POS_LABEL_MIN).cast("long").alias("y"),
            F.round(cosine_arrow(F.col("embedding"), F.col("qe")), 6).alias("s"),
        )
    )
    q = scored.select(
        "y",
        (F.round(F.col("s") * 1_000_000).cast("bigint") + 1_000_000).alias("phm"),
    )
    thr = spark.range(1, 10).select(F.col("id").alias("k"))
    cells = (
        q.crossJoin(broadcast(thr))
        .groupBy("k")
        .agg(
            F.sum(
                F.when(F.col("phm") >= F.col("k") * 200_000, F.col("y")).otherwise(0)
            ).alias("tp"),
            F.sum(
                F.when(F.col("phm") >= F.col("k") * 200_000, 1 - F.col("y")).otherwise(0)
            ).alias("fp"),
            F.sum(
                F.when(F.col("phm") < F.col("k") * 200_000, F.col("y")).otherwise(0)
            ).alias("fn"),
        )
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return cells.select(
        (F.col("k").cast("double") / 10.0).alias("threshold"),
        tp.cast("bigint").alias("tp"),
        fp.cast("bigint").alias("fp"),
        fn.cast("bigint").alias("fn"),
        F.when(tp + fp == 0, 0.0)
        .otherwise(tp.cast("double") / (tp + fp))
        .alias("precision"),
        F.when(tp + fn == 0, 0.0)
        .otherwise(tp.cast("double") / (tp + fn))
        .alias("recall"),
        F.when(2 * tp + fp + fn == 0, 0.0)
        .otherwise(F.lit(2.0) * tp / (2 * tp + fp + fn))
        .alias("f1"),
    )


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion — merging retrieval runs
# ---------------------------------------------------------------------------
#
# RRF (Cormack, Clarke & Büttcher, SIGIR 2009): fuse ranked lists by
# score(d) = Σ_runs 1/(RRF_K + rank_run(d)) — the standard way hybrid
# search merges a lexical run with a semantic run, no score calibration
# needed because only RANKS enter the sum.
#
# The two runs here are integer-deterministic retrieval orderings of
# the documents table for the query terms: raw term frequency, and
# length-normalized term frequency (tf * 1e6 // n_tokens — integer
# cross-multiplication, no float ordering).  Ranks tie-break on doc_id,
# so both runs, the fused scores, and the final ordering are
# bit-identical cross-engine (the fused score is the same two IEEE
# divisions + one add in both).
#
# Scale shape: each run is a TakeOrdered top-N (per-partition heap +
# driver merge of N rows — no global sort shuffle), ranking then runs
# over the N-row frame; the fusion is an N-row full outer join.  The
# corpus is scanned twice (once per run) and never sorted.

_RRF_TERMS = ("spark", "join")
_RRF_K = 60  # the canonical RRF damping constant
_RRF_TOPN = 100  # per-run candidate depth
_RRF_OUT = 20  # fused results returned

_RRF_TERM_LIST = ", ".join(f"'{t}'" for t in _RRF_TERMS)

_RRF_ORACLE = f"""
    WITH scored AS (
        SELECT doc_id,
               LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                               w -> w IN ({_RRF_TERM_LIST}))) AS tf,
               LEN(STRING_SPLIT(text, ' ')) AS n_tokens
        FROM documents
    ),
    run_a AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY tf DESC, doc_id) AS rk
        FROM scored WHERE tf > 0
        ORDER BY tf DESC, doc_id LIMIT {_RRF_TOPN}
    ),
    run_b AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY tf * 1000000 // n_tokens DESC,
                                  doc_id) AS rk
        FROM scored WHERE tf > 0
        ORDER BY tf * 1000000 // n_tokens DESC, doc_id LIMIT {_RRF_TOPN}
    ),
    fused AS (
        SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
               a.rk AS rank_tf, b.rk AS rank_norm,
               COALESCE(1.0 / ({_RRF_K} + a.rk), 0)
                   + COALESCE(1.0 / ({_RRF_K} + b.rk), 0) AS rrf
        FROM run_a a FULL OUTER JOIN run_b b USING (doc_id)
    )
    SELECT doc_id, rank_tf, rank_norm, ROUND(rrf, 6) AS rrf_score
    FROM fused
    ORDER BY rrf DESC, doc_id LIMIT {_RRF_OUT}
"""


@query("q_rank_fusion", _RRF_ORACLE)
def q_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of a term-frequency run and a
    length-normalized run over the documents table (see block comment):
    per-run TakeOrdered top-{_RRF_TOPN}, ranks re-derived on the tiny
    candidate frames, {_RRF_OUT} fused results."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    terms = F.array(*[F.lit(t) for t in _RRF_TERMS])
    scored = d.select(
        "doc_id",
        F.size(F.filter(toks, lambda w: F.array_contains(terms, w))).alias("tf"),
        F.size(toks).alias("n_tokens"),
    ).filter(F.col("tf") > 0)

    def top_run(df: DataFrame, score, rank_name: str) -> DataFrame:
        # TakeOrderedAndProject keeps this a per-partition heap, then
        # row_number re-ranks the N surviving rows (single tiny task)
        cand = (
            df.select("doc_id", score.alias("s"))
            .orderBy(F.desc("s"), F.asc("doc_id"))
            .limit(_RRF_TOPN)
        )
        w = Window.orderBy(F.desc("s"), F.asc("doc_id"))
        return cand.select("doc_id", F.row_number().over(w).alias(rank_name))

    run_a = top_run(scored, F.col("tf"), "rank_tf")
    run_b = top_run(
        scored,
        F.floor(F.col("tf") * 1_000_000 / F.col("n_tokens")).cast("long"),
        "rank_norm",
    )
    fused = run_a.join(run_b, "doc_id", "full_outer").select(
        "doc_id",
        "rank_tf",
        "rank_norm",
        (
            F.coalesce(1.0 / (_RRF_K + F.col("rank_tf")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("rank_norm")), F.lit(0.0))
        ).alias("rrf"),
    )
    return (
        fused.orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(_RRF_OUT)
        .select(
            "doc_id",
            F.col("rank_tf").cast("bigint").alias("rank_tf"),
            F.col("rank_norm").cast("bigint").alias("rank_norm"),
            F.round("rrf", 6).alias("rrf_score"),
        )
    )


# ---------------------------------------------------------------------------
# Confusion matrix + threshold metrics — the classifier report card
# ---------------------------------------------------------------------------
#
# The fixed-threshold companion to q_eval_auc / q_eval_pr_curve: binary
# confusion counts at one operating point plus the derived metrics
# (accuracy, precision, recall, F1, Cohen's kappa).  Every metric is
# spelled as ONE division whose numerator and denominator are exact
# 64-bit integers assembled from the four counts — kappa via the
# cross-multiplied identity
#   kappa = (n*(tp+tn) - E) / (n*n - E),  E = (tp+fp)(tp+fn) + (fn+tn)(fp+tn)
# — so both engines perform a single correctly-rounded IEEE op per
# metric and the hashes match bit for bit, no epsilon anywhere.
#
# Scale shape: the scored frame collapses to FOUR integers in one
# map-side-combined aggregate; nothing downstream of the cosine scorer
# is corpus-sized.

_CONF_THRESH = 0.0  # predict positive when 6 dp cosine >= this

_CONFUSION_ORACLE = f"""
    WITH scored AS ({_SCORED_SQL}),
    c AS (
        SELECT SUM(CASE WHEN y = 1 AND s >= {_CONF_THRESH} THEN 1 ELSE 0 END) AS tp,
               SUM(CASE WHEN y = 0 AND s >= {_CONF_THRESH} THEN 1 ELSE 0 END) AS fp,
               SUM(CASE WHEN y = 1 AND s <  {_CONF_THRESH} THEN 1 ELSE 0 END) AS fn,
               SUM(CASE WHEN y = 0 AND s <  {_CONF_THRESH} THEN 1 ELSE 0 END) AS tn
        FROM scored
    )
    SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
           CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn) AS accuracy,
           CASE WHEN tp + fp = 0 THEN NULL
                ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
           CASE WHEN tp + fn = 0 THEN NULL
                ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS recall,
           CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
                ELSE CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn) END AS f1,
           CASE WHEN (tp + fp + fn + tn) * (tp + fp + fn + tn)
                     - ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)) = 0
                THEN NULL
                ELSE CAST((tp + fp + fn + tn) * (tp + tn)
                          - ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn))
                          AS DOUBLE)
                     / ((tp + fp + fn + tn) * (tp + fp + fn + tn)
                        - ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)))
           END AS kappa
    FROM c
"""


@query("q_eval_confusion", _CONFUSION_ORACLE)
def q_eval_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary confusion counts at the {_CONF_THRESH} cosine operating
    point plus accuracy / precision / recall / F1 / Cohen's kappa, each
    as one exact-integer division (see block comment)."""
    e = load(spark, sf_dir, "embeddings")
    qe = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(broadcast(qe))
        .select(
            (F.col("label") >= _POS_LABEL_MIN).cast("long").alias("y"),
            (
                F.round(cosine_arrow(F.col("embedding"), F.col("qe")), 6)
                >= _CONF_THRESH
            ).cast("long").alias("p"),
        )
    )
    c = scored.agg(
        F.sum((F.col("y") == 1).cast("long") * F.col("p")).alias("tp"),
        F.sum((F.col("y") == 0).cast("long") * F.col("p")).alias("fp"),
        F.sum((F.col("y") == 1).cast("long") * (1 - F.col("p"))).alias("fn"),
        F.sum((F.col("y") == 0).cast("long") * (1 - F.col("p"))).alias("tn"),
    )
    tp, fp, fn, tn = (F.col(x) for x in ("tp", "fp", "fn", "tn"))
    n = tp + fp + fn + tn
    expect = (tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)
    return c.select(
        tp.cast("bigint").alias("tp"),
        fp.cast("bigint").alias("fp"),
        fn.cast("bigint").alias("fn"),
        tn.cast("bigint").alias("tn"),
        ((tp + tn).cast("double") / n).alias("accuracy"),
        F.when(tp + fp > 0, tp.cast("double") / (tp + fp)).alias("precision"),
        F.when(tp + fn > 0, tp.cast("double") / (tp + fn)).alias("recall"),
        F.when(
            F.lit(2) * tp + fp + fn > 0,
            (F.lit(2) * tp).cast("double") / (F.lit(2) * tp + fp + fn),
        ).alias("f1"),
        F.when(
            n * n - expect != 0,
            (n * (tp + tn) - expect).cast("double") / (n * n - expect),
        ).alias("kappa"),
    )
