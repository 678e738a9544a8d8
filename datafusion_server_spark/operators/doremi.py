"""DoReMi-style domain reweighting (Group-DRO proxy training).

Beyond-reference operator — the mixture-weight leg of an LLM data
pipeline. DoReMi (arXiv:2305.10429) chooses pretraining domain weights
by training a small PROXY model with Group DRO against a fixed
REFERENCE model: domains where the proxy's loss exceeds the reference's
(high excess loss = learnable-but-not-learned) get up-weighted by
multiplicative weights, and the proxy's gradient step re-weights each
document by its domain's current weight. The output is the per-domain
weight trajectory average — the recommended mixture for the real
training run.

This implementation reuses the deterministic full-batch-GD machinery of
``operators.classifier`` (hashed bag-of-words, scaled-long sums,
shortest-repr rounding) so the whole minimax loop is replayable by an
independent engine as an unrolled CTE chain:

- reference model: plain logistic GD for ``ref_iters`` iterations; its
  per-document log-loss is computed ONCE and checkpointed;
- proxy loop, per iteration: (1) per-doc log-loss under the current
  proxy weights, (2) per-domain mean EXCESS loss vs the reference
  (clamped at 0), (3) multiplicative-weights update
  ``alpha <- normalize(alpha * exp(eta * excess))`` followed by uniform
  smoothing, (4) one alpha-weighted gradient step on the proxy.

Determinism contract (the house pattern): every libm value (exp, ln) is
shortest-repr-rounded to 8 decimals before use; every cross-row sum is
either a scaled-long (per-doc/per-bucket sums) or an exact DECIMAL sum
(per-domain alpha terms, K-bounded); weights round to 6, alphas to 8.

Scale notes (100 TB): the loss/gradient passes touch the feature table
(checkpointed once) with a broadcast (domain -> alpha) map of K rows —
the standard data-parallel Group-DRO shape; per-iteration reduced state
is dim- and K-bounded. The driver loops over ITERATIONS only, never
rows. At cluster scale the per-iteration ``localCheckpoint`` of the
(dim+1)-row weight and K-row alpha tables is a metadata-sized write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datafusion_server_spark.operators.classifier import _logits, train_logreg
from datafusion_server_spark.operators.similarity import SCALE

# log-loss clamp bounds: 8-decimal sigmoids can round to exactly 0 or 1
P_LO = 1.0e-8
P_HI = 0.99999999


def _log_loss_sql(p: str, y: str) -> str:
    """Shortest-repr-rounded binary cross-entropy of a clamped 8-decimal
    probability, as SQL text — identical expression order in the DuckDB
    oracle."""
    pc = f"GREATEST({P_LO!r}D, LEAST({P_HI!r}D, {p}))"
    return f"ROUND(-({y} * LN({pc}) + (1.0D - {y}) * LN(1.0D - {pc})), 8)"


def doremi_domain_weights(
    features: DataFrame,
    labels: DataFrame,
    domains: DataFrame,
    dim: int = 64,
    ref_iters: int = 5,
    iters: int = 5,
    lr: float = 5.0,
    eta: float = 1.0,
    smoothing: float = 0.05,
) -> DataFrame:
    """Group-DRO proxy training; returns one row per domain:
    (domain, n_docs, alpha_final, alpha_avg) where ``alpha_avg`` is the
    iteration average DoReMi prescribes as the mixture weight.

    ``features`` is (id, bucket, x) from ``classifier.hashed_features``
    (binary presence features: x = 1.0), ``labels`` is (id, y double in
    {0,1}), ``domains`` is (id, domain string).
    """
    spark = features.sparkSession
    dom = domains.select("id", "domain").localCheckpoint()
    nk = dom.groupBy("domain").agg(F.count(F.lit(1)).cast("bigint").alias("n_k"))
    k = nk.count()
    n = labels.count()
    smooth_term = smoothing / float(k)

    feats = features.localCheckpoint()
    lab = labels.localCheckpoint()

    # reference model + its per-doc loss, computed once
    w_ref = train_logreg(feats, lab, dim, ref_iters, lr)
    l_ref = (
        _logits(feats, w_ref)
        .join(lab, "id")
        .selectExpr("id", f"{_log_loss_sql('p', 'y')} AS l_ref")
        .localCheckpoint()
    )

    # uniform init: plain literal division — identical IEEE double in
    # the oracle (1.0 / K from literals), no rounding step needed
    alpha = nk.select(
        "domain", (F.lit(1.0) / F.lit(float(k))).alias("alpha")
    ).localCheckpoint()
    weights = spark.range(dim + 1).select(
        F.col("id").cast("bigint").alias("bucket"), F.lit(0.0).alias("w")
    ).localCheckpoint()

    # r14 (guide §1.2): per-iteration stages as SQL strings — identical
    # expression trees (all Python-computed float literals embedded as
    # D-suffixed doubles), ~9k -> ~2k py4j round-trips per build.
    alpha_hist = []
    for _ in range(iters):
        # (1) per-doc loss under the current proxy
        p = _logits(feats, weights)
        ld = p.join(lab, "id").selectExpr(
            "id", "p", "y", f"{_log_loss_sql('p', 'y')} AS l_cur"
        )
        # (2) per-domain mean excess loss (scaled-long sum of 8-dec diffs)
        ex = (
            ld.join(l_ref, "id")
            .join(dom, "id")
            .groupBy("domain")
            .agg(
                F.expr(
                    "SUM(CAST(ROUND((l_cur - l_ref) * 1.0E8) AS BIGINT)) AS __es"
                ),
                F.expr("CAST(COUNT(1) AS BIGINT) AS __nk"),
            )
            .selectExpr(
                "domain",
                "GREATEST(0.0D, ROUND(CAST(__es AS DOUBLE) / 1.0E8"
                " / CAST(__nk AS DOUBLE), 8)) AS lam",
            )
        )
        # (3) multiplicative-weights update + normalize + smooth
        raw = alpha.join(ex, "domain").selectExpr(
            "domain",
            f"ROUND(alpha * ROUND(EXP({float(eta)!r}D * lam), 8), 8) AS __a1",
        )
        tot = raw.agg(F.expr("SUM(CAST(__a1 AS DECIMAL(18,8))) AS __s"))
        alpha = (
            raw.crossJoin(F.broadcast(tot))
            .selectExpr(
                "domain",
                f"ROUND({(1.0 - smoothing)!r}D"
                " * ROUND(__a1 / CAST(__s AS DOUBLE), 8)"
                f" + {smooth_term!r}D, 8) AS alpha",
            )
            .localCheckpoint()
        )
        alpha_hist.append(alpha)
        # (4) alpha-weighted gradient step:
        #     per-(domain, bucket) scaled-long error sums, then an exact
        #     DECIMAL sum of the K repr-rounded alpha-weighted terms
        pe = ld.selectExpr(
            "id", f"CAST(ROUND((p - y) * {SCALE}) AS BIGINT) AS __e"
        )
        skb = (
            feats.join(pe, "id")
            .join(dom, "id")
            .groupBy("domain", "bucket")
            .agg(F.expr("SUM(__e) AS __skb"))
        )
        gb = (
            skb.join(F.broadcast(alpha), "domain")
            .join(F.broadcast(nk), "domain")
            .selectExpr(
                "bucket",
                f"ROUND(alpha * (CAST(__skb AS DOUBLE) / {SCALE})"
                " / CAST(n_k AS DOUBLE), 12) AS __d",
            )
            .groupBy("bucket")
            .agg(F.expr("SUM(CAST(__d AS DECIMAL(30,12))) AS __g"))
        )
        weights = (
            weights.join(gb, "bucket", "left")
            .selectExpr(
                "bucket",
                f"ROUND(w - {float(lr)!r}D"
                " * COALESCE(CAST(__g AS DOUBLE), 0.0D), 6) AS w",
            )
            .localCheckpoint()
        )

    hist = alpha_hist[0]
    for a in alpha_hist[1:]:
        hist = hist.unionByName(a)
    avg = hist.groupBy("domain").agg(
        F.expr(
            "ROUND(CAST(SUM(CAST(alpha AS DECIMAL(18,8))) AS DOUBLE)"
            f" / {float(iters)!r}D, 8) AS alpha_avg"
        )
    )
    return (
        nk.join(alpha.select("domain", F.col("alpha").alias("alpha_final")), "domain")
        .join(avg, "domain")
        .select("domain", F.col("n_k").alias("n_docs"), "alpha_final", "alpha_avg")
    )
