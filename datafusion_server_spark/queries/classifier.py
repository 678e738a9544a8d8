"""Logistic-regression classifier queries (operators.classifier).

Oracle (round-5 upgrade) = genuine independent DuckDB SQL: the fixed
iteration count lets full-batch gradient descent be UNROLLED into a CTE
chain (w0 -> z1/p1/g1/w1 -> ... -> pfin), so DuckDB re-derives the
hashed features, every sigmoid, every gradient and every weight update
from the raw parquet itself — no driver-side VALUES replay.

Rounding parity note: Spark's ROUND(double, d) goes through the
SHORTEST-REPR decimal (BigDecimal.valueOf = Double.toString), while
DuckDB's ROUND operates on the raw binary double — they diverge when a
value sits within repr precision of a .5 boundary (observed at sf0.001
after 20 iterations of drift amplification). The oracle therefore
rounds raw doubles with ``CAST(CAST(x AS VARCHAR) AS DECIMAL(38,d))``
— DuckDB's VARCHAR cast IS the shortest repr, and the VARCHAR->DECIMAL
cast is HALF_UP, verified equivalent to Python's
``Decimal(repr(x)).quantize`` on 200k random doubles. Quantities that
are provably never near a boundary (6/8-decimal fixed-point values
scaled by 1e12) keep the fast native ROUND."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_server_spark import tables
from datafusion_server_spark.operators import classifier
from datafusion_server_spark.queries import df_query, rrepr

DIM = 256
ITERS = 20
LR = 5.0
PROBE = "vector"  # mid-frequency fixture token: relevance label the BoW can learn


def _logreg_ctes(dim: int = DIM, iters: int = ITERS, lr: float = LR, probe: str = PROBE) -> str:
    """Full-batch GD as an UNROLLED DuckDB CTE chain: hashed binary
    features (fe) + bias bucket {dim}, zero-init weights, then per
    iteration [rw{t} weights pre-rounded to scaled longs ONCE (6-dec
    fixed-point x 1e12 is never near a .5 boundary, so native ROUND is
    exact), z{t} per-doc logits, p{t} shortest-repr-rounded sigmoids,
    pe{t} per-doc scaled errors, g{t} per-bucket gradient sums, w{t}
    repr-rounded weight step] -> final scores ``pfin``. Mirrors
    operators.classifier.train_logreg/predict bit-for-bit. fe/lab are
    MATERIALIZED: DuckDB inlines CTEs by default, and 20 inlined copies
    of the parquet scan exhaust file handles."""
    parts = [
        f"""
tokd AS (SELECT doc_id AS id, UNNEST(string_split(text, ' ')) AS term FROM documents),
tokf AS (SELECT id, term FROM tokd WHERE term <> ''),
fe AS MATERIALIZED (SELECT DISTINCT id, CAST(('0x' || SUBSTR(md5(term), 1, 15)) AS BIGINT) % {dim} AS b FROM tokf
       UNION SELECT DISTINCT doc_id AS id, {dim} AS b FROM documents),
lab AS MATERIALIZED (SELECT doc_id AS id,
               CASE WHEN list_contains(string_split(text, ' '), '{probe}') THEN 1.0 ELSE 0.0 END AS y
        FROM documents),
nd AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
spine AS (SELECT UNNEST(GENERATE_SERIES(0, {dim})) AS b),
w0 AS (SELECT b, CAST(0.0 AS DOUBLE) AS wv FROM spine)"""
    ]
    prev = "w0"
    for t in range(1, iters + 1):
        parts.append(
            f"""
rw{t} AS (SELECT b, CAST(ROUND(wv * 1e12) AS BIGINT) AS rwv FROM {prev}),
z{t} AS (SELECT f.id, CAST(SUM(w.rwv) AS BIGINT) AS zs
         FROM fe f JOIN rw{t} w ON w.b = f.b GROUP BY f.id),
p{t} AS (SELECT id, {rrepr("1.0 / (1.0 + EXP(-(CAST(zs AS DOUBLE) / 1e12)))", 8)} AS p FROM z{t}),
pe{t} AS (SELECT p.id, CAST(ROUND((p.p - l.y) * 1e12) AS BIGINT) AS e
          FROM p{t} p JOIN lab l ON l.id = p.id),
g{t} AS (SELECT f.b, CAST(SUM(pe.e) AS BIGINT) AS gs
         FROM fe f JOIN pe{t} pe ON pe.id = f.id
         GROUP BY f.b),
w{t} AS MATERIALIZED (SELECT s.b,
                {rrepr(f"COALESCE(w.wv, 0.0) - {lr} * " + rrepr("CAST(COALESCE(g.gs, 0) AS DOUBLE) / 1e12 / (SELECT n FROM nd)", 8), 6)} AS wv
         FROM spine s
         LEFT JOIN {prev} w ON w.b = s.b
         LEFT JOIN g{t} g ON g.b = s.b)"""
        )
        prev = f"w{t}"
    t = iters + 1
    parts.append(
        f"""
rw{t} AS (SELECT b, CAST(ROUND(wv * 1e12) AS BIGINT) AS rwv FROM {prev}),
z{t} AS (SELECT f.id, CAST(SUM(w.rwv) AS BIGINT) AS zs
         FROM fe f JOIN rw{t} w ON w.b = f.b GROUP BY f.id),
pfin AS (SELECT id, {rrepr("1.0 / (1.0 + EXP(-(CAST(zs AS DOUBLE) / 1e12)))", 8)} AS p FROM z{t})"""
    )
    return ",".join(parts)


_LOGREG_ORACLE = f"""
WITH {_logreg_ctes()}
SELECT CAST(p.id AS BIGINT) AS id, CAST(p.p AS DOUBLE) AS p,
       CAST(p.p >= 0.5 AS BOOLEAN) AS pred, CAST(l.y AS DOUBLE) AS y
FROM pfin p JOIN lab l ON l.id = p.id
"""


@df_query("classifier_logreg_quality", _LOGREG_ORACLE)
def classifier_logreg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the hashed-BoW logistic model on a probe-relevance label
    (document mentions the probe token) and score every document — the
    quality/topic-classifier shape: label any curated subset (human
    ratings, heuristic gates, topic probes), the pipeline is identical.
    The classifier must DISCOVER which hash bucket carries the label
    through gradient descent — the label never enters the features."""
    docs = tables.load(spark, sf_dir, "documents")
    feats = classifier.hashed_features(docs, "text", "doc_id", DIM)
    labels = docs.select(
        F.col("doc_id").alias("id"),
        F.when(
            F.array_contains(F.split(F.col("text"), " "), PROBE), 1.0
        ).otherwise(0.0).alias("y"),
    )
    w = classifier.train_logreg(feats, labels, DIM, ITERS, LR)
    return classifier.predict(feats, w).join(labels, "id").select(
        "id", "p", "pred", "y"
    )


# Multinomial Naive Bayes on the same probe-relevance task — the
# one-pass counts-only classifier, with a FULL SQL oracle (no replay:
# everything is counts, rounded logs, and DECIMAL sums).
_NB_ORACLE = f"""
WITH lab AS (
  SELECT doc_id AS id,
         CASE WHEN list_contains(string_split(text, ' '), '{PROBE}') THEN 1.0 ELSE 0.0 END AS y
  FROM documents),
tok AS (
  SELECT doc_id AS id, UNNEST(string_split(text, ' ')) AS term
  FROM documents),
tok2 AS (SELECT id, term FROM tok WHERE term <> ''),
counts AS (
  SELECT t.term,
         CAST(SUM(CASE WHEN l.y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN l.y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS c0
  FROM tok2 t JOIN lab l ON l.id = t.id GROUP BY t.term),
tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS t1, CAST(SUM(c0) AS BIGINT) AS t0,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM counts),
lik AS (
  SELECT c.term,
         CAST(ROUND(LN(CAST(c.c1 + 1 AS DOUBLE) / CAST(t.t1 + t.v AS DOUBLE)), 8) AS DECIMAL(18,8)) AS l1,
         CAST(ROUND(LN(CAST(c.c0 + 1 AS DOUBLE) / CAST(t.t0 + t.v AS DOUBLE)), 8) AS DECIMAL(18,8)) AS l0
  FROM counts c, tot t),
priors AS (
  SELECT ROUND(LN(CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)), 8) AS p1,
         ROUND(LN(CAST(SUM(CASE WHEN y = 0.0 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)), 8) AS p0
  FROM lab),
scored AS (
  SELECT t.id,
         ROUND(CAST(SUM(k.l1) AS DOUBLE) + pr.p1, 6) AS score1,
         ROUND(CAST(SUM(k.l0) AS DOUBLE) + pr.p0, 6) AS score0
  FROM tok2 t JOIN lik k ON k.term = t.term, priors pr
  GROUP BY t.id, pr.p1, pr.p0)
SELECT CAST(id AS BIGINT) AS id, score1, score0,
       CAST(score1 > score0 AS BOOLEAN) AS pred
FROM scored
"""


@df_query("classifier_naive_bayes", _NB_ORACLE)
def classifier_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, sf_dir, "documents")
    labels = docs.select(
        F.col("doc_id").alias("id"),
        F.when(
            F.array_contains(F.split(F.col("text"), " "), PROBE), 1.0
        ).otherwise(0.0).alias("y"),
    )
    return classifier.naive_bayes_scores(docs, "text", "doc_id", labels)


# confusion matrix + precision/recall/F1 for the one-pass NB classifier
# (the classifier-eval companion; NB retrains cheaply inside the query).
_NB_CONF_ORACLE = f"""
WITH lab AS (
  SELECT doc_id AS id,
         CASE WHEN list_contains(string_split(text, ' '), '{PROBE}') THEN 1.0 ELSE 0.0 END AS y
  FROM documents),
tok AS (
  SELECT doc_id AS id, UNNEST(string_split(text, ' ')) AS term
  FROM documents),
tok2 AS (SELECT id, term FROM tok WHERE term <> ''),
counts AS (
  SELECT t.term,
         CAST(SUM(CASE WHEN l.y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN l.y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS c0
  FROM tok2 t JOIN lab l ON l.id = t.id GROUP BY t.term),
tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS t1, CAST(SUM(c0) AS BIGINT) AS t0,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM counts),
lik AS (
  SELECT c.term,
         CAST(ROUND(LN(CAST(c.c1 + 1 AS DOUBLE) / CAST(t.t1 + t.v AS DOUBLE)), 8) AS DECIMAL(18,8)) AS l1,
         CAST(ROUND(LN(CAST(c.c0 + 1 AS DOUBLE) / CAST(t.t0 + t.v AS DOUBLE)), 8) AS DECIMAL(18,8)) AS l0
  FROM counts c, tot t),
priors AS (
  SELECT ROUND(LN(CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)), 8) AS p1,
         ROUND(LN(CAST(SUM(CASE WHEN y = 0.0 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)), 8) AS p0
  FROM lab),
scored AS (
  SELECT t.id,
         ROUND(CAST(SUM(k.l1) AS DOUBLE) + pr.p1, 6) AS s1,
         ROUND(CAST(SUM(k.l0) AS DOUBLE) + pr.p0, 6) AS s0
  FROM tok2 t JOIN lik k ON k.term = t.term, priors pr
  GROUP BY t.id, pr.p1, pr.p0),
conf AS (
  SELECT CAST(SUM(CASE WHEN s.s1 > s.s0 AND l.y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN s.s1 > s.s0 AND l.y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN s.s1 <= s.s0 AND l.y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         CAST(SUM(CASE WHEN s.s1 <= s.s0 AND l.y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM scored s JOIN lab l ON l.id = s.id)
SELECT tp, fp, fn, tn,
       ROUND(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) AS precision,
       ROUND(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6) AS recall,
       ROUND(2.0 * CAST(tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE), 6) AS f1
FROM conf
"""


@df_query("eval_nb_confusion", _NB_CONF_ORACLE)
def eval_nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, sf_dir, "documents")
    labels = docs.select(
        F.col("doc_id").alias("id"),
        F.when(
            F.array_contains(F.split(F.col("text"), " "), PROBE), 1.0
        ).otherwise(0.0).alias("y"),
    )
    scored = classifier.naive_bayes_scores(docs, "text", "doc_id", labels).join(
        labels, "id"
    )
    pred = F.col("pred")
    y1 = F.col("y") == 1.0
    conf = scored.agg(
        F.sum((pred & y1).cast("bigint")).cast("bigint").alias("tp"),
        F.sum((pred & ~y1).cast("bigint")).cast("bigint").alias("fp"),
        F.sum((~pred & y1).cast("bigint")).cast("bigint").alias("fn"),
        F.sum((~pred & ~y1).cast("bigint")).cast("bigint").alias("tn"),
    )
    tp = F.col("tp").cast("double")
    return conf.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(tp / (F.col("tp") + F.col("fp")).cast("double"), 6).alias("precision"),
        F.round(tp / (F.col("tp") + F.col("fn")).cast("double"), 6).alias("recall"),
        F.round(
            2.0 * tp / (2 * F.col("tp") + F.col("fp") + F.col("fn")).cast("double"), 6
        ).alias("f1"),
    )


# calibration report for the GD classifier: fixed probability bands vs
# actual positive rate (well-calibrated -> mean_p ~ actual_rate per
# band). Oracle = the same unrolled-GD CTE chain, banded in SQL; the
# DECIMAL(18,8) sum of 8-decimal probabilities is exact, so only the
# final divisions need shortest-repr rounding.
_LOGREG_CALIBRATION_ORACLE = f"""
WITH {_logreg_ctes()}
SELECT CAST(LEAST(9, CAST(FLOOR(p.p * 10.0) AS BIGINT)) AS BIGINT) AS band,
       CAST(COUNT(*) AS BIGINT) AS n,
       {rrepr("CAST(SUM(CAST(p.p AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*)", 6)} AS mean_p,
       {rrepr("CAST(SUM(CASE WHEN l.y = 1.0 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)", 6)} AS actual_rate
FROM pfin p JOIN lab l ON l.id = p.id
GROUP BY 1
"""


@df_query("eval_logreg_calibration", _LOGREG_CALIBRATION_ORACLE)
def eval_logreg_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, sf_dir, "documents")
    feats = classifier.hashed_features(docs, "text", "doc_id", DIM)
    labels = docs.select(
        F.col("doc_id").alias("id"),
        F.when(
            F.array_contains(F.split(F.col("text"), " "), PROBE), 1.0
        ).otherwise(0.0).alias("y"),
    )
    w = classifier.train_logreg(feats, labels, DIM, ITERS, LR)
    scored = classifier.predict(feats, w).join(labels, "id")
    band = F.least(F.lit(9), F.floor(F.col("p") * 10.0)).cast("bigint")
    return (
        scored.groupBy(band.alias("band"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(
                F.sum(F.col("p").cast("decimal(18,8)")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_p"),
            F.round(
                F.sum((F.col("y") == 1.0).cast("bigint")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("actual_rate"),
        )
    )


# AUC of the NB classifier margin via the Mann-Whitney rank-sum in its
# SCALE-RIGHT form: scores are 6-decimal rounded, so aggregate to the
# per-distinct-score (n_pos, n_neg) table FIRST (output bounded by
# distinct margins), window over THAT tiny table for the cumulative
# negatives, then one closing aggregation. Tie handling is the exact
# midrank convention: each tied block contributes
# n_pos * (2 * negatives_strictly_below + n_neg_in_block) / 2 pairs.
# The numerator is all-integer; only the final division is a double.
_NB_AUC_ORACLE = (
    _NB_CONF_ORACLE[: _NB_CONF_ORACLE.index("conf AS (")]
    + f"""
per AS (
  SELECT s.s1 - s.s0 AS m,
         CAST(SUM(CASE WHEN l.y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(SUM(CASE WHEN l.y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
  FROM scored s JOIN lab l ON l.id = s.id
  GROUP BY s.s1 - s.s0),
cum AS (
  SELECT n_pos, n_neg,
         CAST(SUM(n_neg) OVER (ORDER BY m ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_neg
              AS BIGINT) AS neg_below
  FROM per)
SELECT CAST(SUM(n_pos) AS BIGINT) AS n_pos,
       CAST(SUM(n_neg) AS BIGINT) AS n_neg,
       {rrepr("CAST(SUM(n_pos * (2 * neg_below + n_neg)) AS DOUBLE) / CAST(2 * SUM(n_pos) * SUM(n_neg) AS DOUBLE)", 8)} AS auc
FROM cum
"""
)


@df_query("eval_nb_auc", _NB_AUC_ORACLE)
def eval_nb_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-free ranking quality of the NB margin (score1-score0):
    exact tie-aware Mann-Whitney AUC. The distinct-margin aggregation
    comes first, and the cumulative-negatives prefix over the distinct
    margins runs as ``scale.distributed_cumsum`` (r8): margins are
    6-decimal NB log-prob differences, so while far smaller than the
    corpus, the distinct-margin table still scales with corpus
    diversity — a one-task ``Window.orderBy`` over it would be the
    funnel the plan audit hunts. The two-level range-partitioned
    running sum keeps the only unpartitioned window at #partitions
    rows; n_neg is BIGINT so the split accumulation is order-free
    exact, and m is unique after the groupBy (a total order)."""
    from datafusion_server_spark.operators import scale

    docs = tables.load(spark, sf_dir, "documents")
    labels = docs.select(
        F.col("doc_id").alias("id"),
        F.when(
            F.array_contains(F.split(F.col("text"), " "), PROBE), 1.0
        ).otherwise(0.0).alias("y"),
    )
    scored = classifier.naive_bayes_scores(docs, "text", "doc_id", labels).join(
        labels, "id"
    )
    per = scored.groupBy((F.col("score1") - F.col("score0")).alias("m")).agg(
        F.sum((F.col("y") == 1.0).cast("bigint")).cast("bigint").alias("n_pos"),
        F.sum((F.col("y") == 0.0).cast("bigint")).cast("bigint").alias("n_neg"),
    )
    cum = scale.distributed_cumsum(per, ["m"], "n_neg", cumsum_col="__cum").select(
        "n_pos",
        "n_neg",
        (F.col("__cum") - F.col("n_neg")).cast("bigint").alias("neg_below"),
    )
    return cum.agg(
        F.sum("n_pos").cast("bigint").alias("n_pos"),
        F.sum("n_neg").cast("bigint").alias("n_neg"),
        F.round(
            F.sum(F.col("n_pos") * (2 * F.col("neg_below") + F.col("n_neg"))).cast(
                "double"
            )
            / (2 * F.sum("n_pos") * F.sum("n_neg")).cast("double"),
            8,
        ).alias("auc"),
    )


# DPO/RLHF-style preference-pair construction: within each source,
# pair the k highest-margin documents (chosen) with the k lowest
# (rejected), rank-to-rank, carrying the margin gap. Oracle reuses the
# NB scored chain + two rank windows per source.
_PREF_K = 5

_PREF_ORACLE = (
    _NB_CONF_ORACLE[: _NB_CONF_ORACLE.index("conf AS (")]
    + f"""
pm AS (SELECT s.id, d.source, s.s1 - s.s0 AS m
       FROM scored s JOIN documents d ON d.doc_id = s.id),
rk AS (SELECT id, source, m,
              CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY m DESC, id ASC) AS BIGINT) AS r_top,
              CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY m ASC, id ASC) AS BIGINT) AS r_bot
       FROM pm)
SELECT a.source, a.r_top AS pair_rank,
       CAST(a.id AS BIGINT) AS chosen_id, CAST(b.id AS BIGINT) AS rejected_id,
       ROUND(a.m - b.m, 6) AS margin_gap
FROM rk a JOIN rk b ON b.source = a.source AND b.r_bot = a.r_top
WHERE a.r_top <= {_PREF_K} AND a.id <> b.id AND a.m > b.m
"""
)


@df_query("preference_pairs_by_margin", _PREF_ORACLE)
def preference_pairs_by_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair mining for DPO-style tuning: within each source,
    rank documents by the quality-classifier margin and pair
    rank-i-from-top (chosen) with rank-i-from-bottom (rejected),
    skipping degenerate self/equal-margin pairs. Per-source windows
    only — no global sort; the margin table is the one shuffle."""
    from pyspark.sql import Window

    docs = tables.load(spark, sf_dir, "documents")
    labels = docs.select(
        F.col("doc_id").alias("id"),
        F.when(
            F.array_contains(F.split(F.col("text"), " "), PROBE), 1.0
        ).otherwise(0.0).alias("y"),
    )
    pm = (
        classifier.naive_bayes_scores(docs, "text", "doc_id", labels)
        .join(docs.select(F.col("doc_id").alias("id"), "source"), "id")
        .select("id", "source", (F.col("score1") - F.col("score0")).alias("m"))
    )
    wt = Window.partitionBy("source").orderBy(F.desc("m"), F.asc("id"))
    wb = Window.partitionBy("source").orderBy(F.asc("m"), F.asc("id"))
    rk = pm.select(
        "id", "source", "m",
        F.row_number().over(wt).cast("bigint").alias("r_top"),
        F.row_number().over(wb).cast("bigint").alias("r_bot"),
    )
    a, b = rk.alias("a"), rk.alias("b")
    return (
        a.join(
            b,
            (F.col("b.source") == F.col("a.source"))
            & (F.col("b.r_bot") == F.col("a.r_top")),
        )
        .filter(
            (F.col("a.r_top") <= _PREF_K)
            & (F.col("a.id") != F.col("b.id"))
            & (F.col("a.m") > F.col("b.m"))
        )
        .select(
            F.col("a.source").alias("source"),
            F.col("a.r_top").alias("pair_rank"),
            F.col("a.id").alias("chosen_id"),
            F.col("b.id").alias("rejected_id"),
            F.round(F.col("a.m") - F.col("b.m"), 6).alias("margin_gap"),
        )
    )


# --- Bradley-Terry source tournament (r6, operators/rating.py) --------------
# Fixture: each source fields its 10 smallest-doc_id documents as a
# lineup; rank-r docs meet across every source pair, longer doc wins
# (ties to the lexicographically smaller source). 8 MM iterations from
# uniform init; the ENTIRE fit — matches, win/match counts, every
# iteration's DECIMAL-summed denominators and repr-rounded updates —
# unrolls into the DuckDB oracle (the kmeans/logreg/DoReMi pattern).
_BT_ROUNDS = 10
_BT_ITERS = 8


def _bt_ctes() -> str:
    parts = [f"""lineup AS MATERIALIZED (
  SELECT p, s, r FROM (
    SELECT source AS p, CAST(n_chars AS BIGINT) AS s,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id ASC) AS r
    FROM documents) WHERE r <= {_BT_ROUNDS}),
matches AS MATERIALIZED (
  SELECT CASE WHEN a.s >= b.s THEN a.p ELSE b.p END AS p_win,
         CASE WHEN a.s >= b.s THEN b.p ELSE a.p END AS p_lose
  FROM lineup a JOIN lineup b ON a.r = b.r AND a.p < b.p),
pairs AS MATERIALIZED (
  SELECT LEAST(p_win, p_lose) AS i, GREATEST(p_win, p_lose) AS j,
         CAST(COUNT(*) AS BIGINT) AS n_ij
  FROM matches GROUP BY 1, 2),
players AS MATERIALIZED (
  SELECT pm.p, CAST(COALESCE(ww.w, 0) AS BIGINT) AS w, pm.m FROM
    (SELECT p, CAST(COUNT(*) AS BIGINT) AS m
     FROM (SELECT p_win AS p FROM matches UNION ALL SELECT p_lose FROM matches)
     GROUP BY p) pm
    LEFT JOIN (SELECT p_win AS pw, CAST(COUNT(*) AS BIGINT) AS w
               FROM matches GROUP BY p_win) ww ON ww.pw = pm.p),
adj AS MATERIALIZED (
  SELECT i, j, n_ij FROM pairs
  UNION ALL SELECT j AS i, i AS j, n_ij FROM pairs),
r0 AS (SELECT p, CAST(1.0 AS DOUBLE) AS s FROM players)"""]
    term = rrepr("CAST(a.n_ij AS DOUBLE) / (ri.s + rj.s)", 8)
    upd = rrepr("CAST(pl.w AS DOUBLE) / d.d", 8)
    # each level references r{t-1} three times (ri, rj, carry-forward
    # prev); MATERIALIZED stops DuckDB inlining the chain exponentially
    for t in range(1, _BT_ITERS + 1):
        parts.append(f"""d{t} AS MATERIALIZED (
  SELECT a.i AS p,
         CAST(SUM(CAST({term} AS DECIMAL(18,8))) AS DOUBLE) AS d
  FROM adj a JOIN r{t-1} ri ON ri.p = a.i JOIN r{t-1} rj ON rj.p = a.j
  GROUP BY a.i),
r{t} AS MATERIALIZED (
  SELECT pl.p,
         CASE WHEN d.d IS NOT NULL AND d.d > 0 THEN {upd}
              ELSE prev.s END AS s
  FROM players pl LEFT JOIN d{t} d ON d.p = pl.p
  JOIN r{t-1} prev ON prev.p = pl.p)""")
    return ",\n".join(parts)


_BT_ORACLE = f"""
WITH {_bt_ctes()}
SELECT pl.p AS player, {rrepr(f"r{_BT_ITERS}.s", 6)} AS rating,
       pl.w AS wins, pl.m AS matches
FROM players pl JOIN r{_BT_ITERS} ON r{_BT_ITERS}.p = pl.p
"""


@df_query("eval_bradley_terry_sources", _BT_ORACLE)
def eval_bradley_terry_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry tournament rating of the document sources from
    rank-matched pairwise length comparisons — the preference-fit shape
    behind RLHF data audits and arena leaderboards."""
    from datafusion_server_spark.operators import rating

    docs = tables.load(spark, sf_dir, "documents")
    m = rating.pairwise_matches_by_rank(
        docs, "source", F.col("n_chars"), "doc_id", rounds=_BT_ROUNDS
    )
    return rating.bradley_terry_ratings(m, iterations=_BT_ITERS)


# --- pass@k estimator (r6) --------------------------------------------------
# The HumanEval metric (Chen et al. 2021, arXiv:2107.03374): unbiased
# pass@k = 1 - C(n-c, k)/C(n, k) per task from n attempts with c
# successes, evaluated as the FIXED-ORDER product
# prod_{i=0..k-1} (n-c-i)/(n-i) — identical IEEE arithmetic on both
# engines, no aggregation-order dependence. Fixture: users are tasks,
# events attempts, purchases successes. k clamps to n; c > n-k forces
# pass@k = 1 exactly (a zero binomial, not a float product).
_PASS_K = 5


def _pass_product(n: str, c: str, k: int) -> str:
    terms = " * ".join(
        f"(CASE WHEN {i} < LEAST({k}, {n}) "
        f"THEN CAST({n} - {c} - {i} AS DOUBLE) / CAST({n} - {i} AS DOUBLE) "
        f"ELSE 1.0 END)"
        for i in range(k)
    )
    return (
        f"(CASE WHEN {n} - {c} < LEAST({k}, {n}) THEN 1.0 "
        f"ELSE 1.0 - {terms} END)"
    )


_PASSK_ORACLE = f"""
WITH a AS (
  SELECT CAST(user_id AS BIGINT) AS task_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c
  FROM events GROUP BY user_id)
SELECT task_id, n AS n_attempts, c AS n_correct,
       ROUND({_pass_product("n", "c", _PASS_K)}, 6) AS pass_at_k
FROM a
"""


@df_query("eval_pass_at_k", _PASSK_ORACLE)
def eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbiased pass@5 per task from attempt/success counts — the
    code-generation eval estimator, as one aggregation plus a
    fixed-order closed-form product."""
    ev = tables.load(spark, sf_dir, "events")
    a = ev.groupBy(F.col("user_id").cast("bigint").alias("task_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("bigint"))
        .cast("bigint")
        .alias("c"),
    )
    return a.select(
        "task_id",
        F.col("n").alias("n_attempts"),
        F.col("c").alias("n_correct"),
        F.round(F.expr(_pass_product("n", "c", _PASS_K)), 6).alias("pass_at_k"),
    )


# --- programmatic weak supervision (r8, operators/classifier.py) -----------
# Snorkel-style label model over five deterministic labeling functions
# (keyword / length predicates): unweighted majority -> per-rule
# agreement weights in exact 1e-6 integer units -> weighted vote. The
# whole chain (including the half-up integer weight rounding) unrolls
# into the oracle; rules with no decided coverage drop out of the
# weighted pass on both sides (inner join).
_WL_RULES_SQL = """
base AS (
  SELECT CAST(doc_id AS BIGINT) AS id,
         string_split(text, ' ') AS toks,
         CAST(n_chars AS BIGINT) AS len
  FROM documents),
raw AS (
  SELECT id, 'kw_spark' AS rule,
         CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END AS v FROM base
  UNION ALL
  SELECT id, 'kw_join',
         CASE WHEN list_contains(toks, 'join') THEN 1 ELSE 0 END FROM base
  UNION ALL
  SELECT id, 'kw_slow',
         CASE WHEN list_contains(toks, 'slow') THEN -1 ELSE 0 END FROM base
  UNION ALL
  SELECT id, 'short_doc',
         CASE WHEN len < 200 THEN -1 ELSE 0 END FROM base
  UNION ALL
  SELECT id, 'data_query',
         CASE WHEN list_contains(toks, 'data') AND list_contains(toks, 'query')
              THEN 1 ELSE 0 END FROM base),
votes AS (SELECT id, rule, v FROM raw WHERE v <> 0),
maj AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_votes,
         CAST(SUM(v) AS BIGINT) AS vote_sum,
         CAST(SIGN(SUM(v)) AS INTEGER) AS label0
  FROM votes GROUP BY id),
weights AS (
  SELECT v.rule,
         CAST((2000000 * SUM(CASE WHEN v.v = m.label0 THEN 1 ELSE 0 END)
               + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS w_micro
  FROM votes v JOIN maj m ON m.id = v.id AND m.label0 <> 0
  GROUP BY v.rule),
scored AS (
  SELECT v.id, CAST(SUM(CAST(v.v AS BIGINT) * w.w_micro) AS BIGINT) AS score_micro
  FROM votes v JOIN weights w ON w.rule = v.rule
  GROUP BY v.id)
"""

_WL_ORACLE = f"""
WITH {_WL_RULES_SQL}
SELECT b.id,
       COALESCE(m.n_votes, 0) AS n_votes,
       COALESCE(m.vote_sum, 0) AS vote_sum,
       CAST(COALESCE(m.label0, 0) AS INTEGER) AS label0,
       COALESCE(s.score_micro, 0) AS score_micro,
       CASE WHEN COALESCE(s.score_micro, 0) > 0 THEN 'pos'
            WHEN COALESCE(s.score_micro, 0) < 0 THEN 'neg'
            ELSE 'abstain' END AS final_label
FROM base b LEFT JOIN maj m ON m.id = b.id LEFT JOIN scored s ON s.id = b.id
"""


@df_query("weak_label_vote", _WL_ORACLE)
def weak_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weak-supervision label model: five deterministic labeling
    functions, unweighted majority, exact-integer agreement weights,
    weighted final vote."""
    docs = tables.load(spark, sf_dir, "documents")
    # SQL-string votes: the operator parses the whole vote array in ONE
    # round-trip
    has = lambda w: f"ARRAY_CONTAINS(SPLIT(text, ' '), '{w}')"  # noqa: E731
    sgn = lambda c, v: f"CASE WHEN {c} THEN {v} ELSE 0 END"  # noqa: E731
    rules = [
        ("kw_spark", sgn(has("spark"), 1)),
        ("kw_join", sgn(has("join"), 1)),
        ("kw_slow", sgn(has("slow"), -1)),
        ("short_doc", sgn("n_chars < 200", -1)),
        ("data_query", sgn(f"{has('data')} AND {has('query')}", 1)),
    ]
    return classifier.weak_label_vote(docs, "doc_id", rules)
