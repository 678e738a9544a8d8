"""DoReMi domain-reweighting queries (operators.doremi).

Oracle = genuine independent DuckDB SQL: the fixed iteration counts let
the whole minimax loop — reference-model GD, per-domain excess loss,
multiplicative-weights alpha updates, alpha-weighted proxy GD — be
UNROLLED into a CTE chain, so DuckDB re-derives every sigmoid, loss,
alpha, and weight from the raw parquet itself (the house pattern shared
with the classifier/k-means/PQ/BPE families; rounding-parity notes in
``queries.classifier``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_server_spark import tables
from datafusion_server_spark.operators import classifier, doremi
from datafusion_server_spark.operators.doremi import P_HI, P_LO
from datafusion_server_spark.queries import df_query, rrepr
from datafusion_server_spark.queries.classifier import PROBE, _logreg_ctes

DIM = 64
REF_ITERS = 5
ITERS = 5
LR = 5.0
ETA = 1.0
SMOOTH = 0.05


def _loss_sql(p: str, y: str) -> str:
    """Mirror of ``operators.doremi._log_loss_sql``: clamped 8-decimal
    binary cross-entropy, shortest-repr rounded."""
    pc = f"GREATEST({P_LO!r}, LEAST({P_HI!r}, {p}))"
    return rrepr(f"-({y} * LN({pc}) + (1.0 - {y}) * LN(1.0 - {pc}))", 8)


_SIGMOID = rrepr("1.0 / (1.0 + EXP(-(CAST(zs AS DOUBLE) / 1e12)))", 8)


def _doremi_ctes() -> str:
    """Reference chain (reused from the logreg oracle generator) +
    domain tables + the unrolled Group-DRO proxy loop."""
    parts = [
        # fe / lab / nd / spine / w0 .. w{REF_ITERS} / pfin
        _logreg_ctes(dim=DIM, iters=REF_ITERS, lr=LR, probe=PROBE),
        f"""
lref AS MATERIALIZED (SELECT p.id, {_loss_sql("p.p", "l.y")} AS lref
        FROM pfin p JOIN lab l ON l.id = p.id),
dm AS MATERIALIZED (SELECT doc_id AS id, source AS domain FROM documents),
nkc AS MATERIALIZED (SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_k
        FROM dm GROUP BY domain),
kk AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k FROM nkc),
at0 AS (SELECT domain, (1.0 / k.k) AS alpha FROM nkc, kk k)""",
    ]
    prev_w, prev_a = "w0", "at0"
    for t in range(1, ITERS + 1):
        excess = rrepr(
            "CAST(SUM(CAST(ROUND((q.lc - r.lref) * 100000000.0) AS BIGINT)) AS DOUBLE)"
            " / 100000000.0 / CAST(COUNT(*) AS DOUBLE)",
            8,
        )
        alpha_expr = rrepr(
            f"(1.0 - {SMOOTH!r}) * " + rrepr("a.a1 / t.s", 8) + f" + ({SMOOTH!r} / k.k)",
            8,
        )
        grad_term = rrepr(
            "(a.alpha * (CAST(s.skb AS DOUBLE) / 1000000000000)) / CAST(n.n_k AS DOUBLE)",
            12,
        )
        parts.append(
            f"""
qrw{t} AS (SELECT b, CAST(ROUND(wv * 1e12) AS BIGINT) AS rwv FROM {prev_w}),
qz{t} AS (SELECT f.id, CAST(SUM(w.rwv) AS BIGINT) AS zs
          FROM fe f JOIN qrw{t} w ON w.b = f.b GROUP BY f.id),
qp{t} AS (SELECT id, {_SIGMOID} AS p FROM qz{t}),
ql{t} AS MATERIALIZED (SELECT p.id, p.p, l.y, {_loss_sql("p.p", "l.y")} AS lc
          FROM qp{t} p JOIN lab l ON l.id = p.id),
qex{t} AS (SELECT d.domain, GREATEST(0.0, {excess}) AS lam
           FROM ql{t} q JOIN lref r ON r.id = q.id JOIN dm d ON d.id = q.id
           GROUP BY d.domain),
qa1_{t} AS (SELECT a.domain,
            {rrepr("a.alpha * " + rrepr(f"EXP({ETA!r} * e.lam)", 8), 8)} AS a1
            FROM {prev_a} a JOIN qex{t} e ON e.domain = a.domain),
qtot{t} AS (SELECT CAST(SUM(CAST(a1 AS DECIMAL(18,8))) AS DOUBLE) AS s FROM qa1_{t}),
at{t} AS MATERIALIZED (SELECT a.domain, {alpha_expr} AS alpha
          FROM qa1_{t} a, qtot{t} t, kk k),
qpe{t} AS (SELECT id, CAST(ROUND((p - y) * 1000000000000) AS BIGINT) AS e FROM ql{t}),
qskb{t} AS (SELECT d.domain, f.b, CAST(SUM(e.e) AS BIGINT) AS skb
            FROM fe f JOIN qpe{t} e ON e.id = f.id JOIN dm d ON d.id = f.id
            GROUP BY d.domain, f.b),
qgb{t} AS (SELECT s.b, SUM(CAST({grad_term} AS DECIMAL(30,12))) AS gv
           FROM qskb{t} s JOIN at{t} a ON a.domain = s.domain
           JOIN nkc n ON n.domain = s.domain
           GROUP BY s.b),
pw{t} AS MATERIALIZED (SELECT w.b,
          {rrepr(f"w.wv - {LR!r} * COALESCE(CAST(g.gv AS DOUBLE), 0.0)", 6)} AS wv
          FROM {prev_w} w LEFT JOIN qgb{t} g ON g.b = w.b)"""
        )
        prev_w, prev_a = f"pw{t}", f"at{t}"
    hist = " UNION ALL ".join(f"SELECT * FROM at{t}" for t in range(1, ITERS + 1))
    parts.append(
        f"""
ahist AS ({hist}),
aavg AS (SELECT domain,
         {rrepr(f"CAST(SUM(CAST(alpha AS DECIMAL(18,8))) AS DOUBLE) / {float(ITERS)!r}", 8)} AS alpha_avg
         FROM ahist GROUP BY domain)"""
    )
    return ",".join(parts)


_DOREMI_ORACLE = f"""
WITH {_doremi_ctes()}
SELECT n.domain AS domain, n.n_k AS n_docs,
       f.alpha AS alpha_final, a.alpha_avg AS alpha_avg
FROM nkc n
JOIN at{ITERS} f ON f.domain = n.domain
JOIN aavg a ON a.domain = n.domain
"""


@df_query("doremi_domain_weights", _DOREMI_ORACLE)
def doremi_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi mixture weights over the fixture's ``source`` domains:
    Group-DRO proxy training against a plain-GD reference model on the
    probe-relevance task. Domains whose documents stay harder for the
    proxy than for the reference earn larger mixture weights; the
    iteration-averaged alpha is the recommended sampling mixture."""
    docs = tables.load(spark, sf_dir, "documents")
    feats = classifier.hashed_features(docs, "text", "doc_id", DIM)
    labels = docs.select(
        F.col("doc_id").alias("id"),
        F.when(
            F.array_contains(F.split(F.col("text"), " "), PROBE), 1.0
        ).otherwise(0.0).alias("y"),
    )
    domains = docs.select(
        F.col("doc_id").alias("id"), F.col("source").alias("domain")
    )
    return doremi.doremi_domain_weights(
        feats, labels, domains, DIM, REF_ITERS, ITERS, LR, ETA, SMOOTH
    )
