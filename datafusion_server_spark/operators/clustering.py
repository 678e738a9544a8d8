"""Deterministic distributed k-means + SemDeDup-style semantic dedup.

Beyond-reference operators (the reference engine has no vector ops).
SemDeDup (Abbas et al. 2023, arXiv:2303.09540) is the modern semantic-
dedup recipe for LLM corpora: cluster the embeddings with k-means, then
search for near-duplicate pairs ONLY within each cluster — the
clustering turns the quadratic all-pairs problem into k independent
(n/k)^2 problems, the same guard-against-quadratic stance as the LSH
band join and the df-capped Jaccard join.

k-means here is Lloyd's algorithm as pure DataFrame ops, deterministic
end-to-end so the DuckDB oracle can replay it driver-side:

- init: the k vectors with the smallest md5 hash fraction (hash-rank —
  partition- and engine-independent), cluster index in that rank order;
- assignment: a NARROW per-row argmin over the centroid array — the
  centroids ride into the plan as ONE broadcast row (sort_array over a
  collect_list aggregate), and the squared distance is the exact
  scaled-long sum shared with ``operators.similarity``, so there is no
  shuffle at all in the assignment step;
- update: per-(cluster, dimension) exact scaled-long sums + counts (one
  map-side-combined shuffle of k x dim output rows), means rounded to 6
  decimals, re-packed to centroid arrays; empty clusters keep their
  previous centroid;
- per-iteration ``localCheckpoint`` on the k-row centroid table
  truncates the iteration lineage (the connected-components precedent)
  — the checkpointed data is k arrays, not corpus data.

Determinism contract: every cross-engine float op is either exact IEEE
double arithmetic, an exact scaled-long sum, or rounded (HALF_UP, 6-8
decimals) before use — so a Python/numpy replay reproduces every
assignment, centroid, and cosine bit-for-bit. Ties in the argmin break
toward the lower cluster index (strict less-than over the sorted
centroid array).

Scale notes (100 TB): per iteration the corpus is touched by exactly
one narrow projection (assignment) and one aggregation (update) whose
output is k x dim rows regardless of input size. The centroid broadcast
is k x dim doubles. SemDeDup's pair join keys on the cluster id; cap
cluster sizes by raising k (the paper uses k ~ sqrt(n))."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datafusion_server_spark.operators.sampling import hash_fraction
from datafusion_server_spark.operators.scale import (
    ensure_fanout_parallelism,
    quote_ident,
    ranked_topk,
)
from datafusion_server_spark.operators.similarity import SCALE, _dot_scaled, _unscale


def _round6_vec(vec: Column) -> Column:
    return F.transform(vec, lambda x: F.round(x.cast("double"), 6))


def kmeans_init(
    embeddings: DataFrame, k: int, vec_col: str, id_col: str, seed: str = "kmeans"
) -> DataFrame:
    """(cluster, c): the k vectors with the smallest hash fraction,
    cluster = 0..k-1 in (fraction, id) rank order, elements rounded to
    the centroid contract's 6 decimals. The k-smallest selection is
    ``ranked_topk`` (TakeOrderedAndProject: per-partition k-row heaps,
    one k*partitions-row merge) — the corpus never funnels through a
    single-partition window, so no pre-thinning is required at scale."""
    frac = hash_fraction(F.col("id"), seed)
    base = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).withColumn("__f", frac)
    return ranked_topk(
        base, [F.col("__f").asc(), F.col("id").asc()], k, rank_col="__rn"
    ).select(
        (F.col("__rn") - 1).cast("int").alias("cluster"),
        _round6_vec(F.col("v")).alias("c"),
    )


def _centroid_row(centroids: DataFrame) -> DataFrame:
    """k centroid rows -> ONE broadcastable row holding the sorted
    array<struct<cluster, c>> (plan-embedded, no driver job)."""
    return centroids.agg(F.expr("SORT_ARRAY(COLLECT_LIST(STRUCT(cluster, c))) AS cents"))


def _d2_scaled_sql(v: str, c: str) -> str:
    """Exact scaled-long squared L2 distance between two array
    expressions, as SQL text: per-element ``round((x-y)^2 * 1e12)`` as
    BIGINT, summed in-row. One ``F.expr`` parse per embedded copy; kmeans
    embeds it twice per argmin step."""
    return (
        f"AGGREGATE(ZIP_WITH({v}, {c}, (x, y) -> "
        f"CAST(ROUND((CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)"
        f" * {SCALE}) AS BIGINT)), CAST(0 AS BIGINT), (acc, t) -> acc + t)"
    )


def assign_clusters(
    embeddings: DataFrame, centroids: DataFrame, vec_col: str, id_col: str
) -> DataFrame:
    """(id, cluster, v): nearest-centroid assignment as a NARROW map —
    a per-row argmin folded over the broadcast centroid array with the
    exact scaled-long distance; ties break to the lower cluster index.

    r14 (optimization, guide §1.2): the argmin fold is ONE SQL string —
    the Column-lambda form cost ~1600 py4j round-trips per embedded
    assignment (x3 Lloyd iterations made the kmeans rows the heaviest
    builders in the repo at 5200-6700 RTs). Same expression tree, same
    values."""
    best = (
        "AGGREGATE(cents, STRUCT(CAST(NULL AS BIGINT) AS d2, -1 AS cluster), "
        "(acc, ct) -> CASE WHEN acc.d2 IS NULL OR "
        f"{_d2_scaled_sql('__v', 'ct.c')} < acc.d2 "
        f"THEN STRUCT({_d2_scaled_sql('__v', 'ct.c')} AS d2, "
        "ct.cluster AS cluster) ELSE acc END)"
    )
    iq = id_col if id_col.isidentifier() else f"`{id_col}`"
    vq = vec_col if vec_col.isidentifier() else f"`{vec_col}`"
    return (
        embeddings.selectExpr(f"{iq} AS id", f"{vq} AS __v")
        .crossJoin(F.broadcast(_centroid_row(centroids)))
        .selectExpr("id", f"({best}).cluster AS cluster", "__v AS v")
    )


def kmeans(
    embeddings: DataFrame,
    k: int,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = "kmeans",
) -> tuple[DataFrame, DataFrame]:
    """Lloyd's k-means for exactly ``iters`` iterations (fixed count —
    the deterministic-replay contract; convergence-based stopping would
    make the oracle depend on runtime float drift). Returns
    (assignments (id, cluster), centroids (cluster, c))."""
    embeddings = ensure_fanout_parallelism(embeddings)
    cent = kmeans_init(embeddings, k, vec_col, id_col, seed).localCheckpoint()
    for it in range(iters):
        assigned = assign_clusters(embeddings, cent, vec_col, id_col)
        el = assigned.selectExpr("cluster", "POSEXPLODE(v) AS (__i, __x)")
        means = (
            el.groupBy("cluster", "__i")
            .agg(
                F.expr(
                    f"SUM(CAST(ROUND(CAST(__x AS DOUBLE) * {SCALE})"
                    " AS BIGINT)) AS __s"
                ),
                F.expr("CAST(COUNT(1) AS BIGINT) AS __cnt"),
            )
            .selectExpr(
                "cluster",
                "__i",
                f"ROUND(CAST(__s AS DOUBLE) / __cnt / {SCALE}, 6) AS __m",
            )
            .groupBy("cluster")
            .agg(
                F.expr(
                    "TRANSFORM(SORT_ARRAY(COLLECT_LIST(STRUCT(__i, __m))),"
                    " s -> s.__m) AS __newc"
                )
            )
        )
        # empty clusters keep their previous centroid
        cent = cent.join(means, "cluster", "left").selectExpr(
            "cluster", "COALESCE(__newc, c) AS c"
        )
        # r14 (verdict task 5, guide §1.2): checkpoint every SECOND
        # Lloyd step (and the last) — two iterations chain lazily into
        # one scheduled job, halving job/checkpoint overhead for the
        # same total corpus scans. The checkpoint is a materialization
        # boundary only; centroid values are identical either way.
        if it % 2 == 1 or it == iters - 1:
            cent = cent.localCheckpoint()
    return assign_clusters(embeddings, cent, vec_col, id_col).select(
        "id", "cluster"
    ), cent


def semdedup_pairs(
    embeddings: DataFrame,
    k: int,
    threshold: float,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = "kmeans",
) -> DataFrame:
    """Within-cluster near-duplicate pairs: k-means partition, then an
    (id_a < id_b) self-join KEYED ON THE CLUSTER — pair work is bounded
    by the largest cluster, never the corpus. Cosine is the exact
    scaled-long form; zero-norm vectors are excluded (no direction).
    Output: (cluster, keep_id, drop_id, cosine) with cosine >=
    ``threshold`` and keep_id = min(id) (the dedup family's min-id
    survivorship convention — SemDeDup itself is agnostic to which
    member survives)."""
    assigned, _ = kmeans(embeddings, k, iters, vec_col, id_col, seed)
    vec = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.sqrt(
            _unscale(_dot_scaled(quote_ident(vec_col), quote_ident(vec_col)))
        ).alias("nrm"),
    ).filter(F.col("nrm") > 0.0)
    side = assigned.join(vec, "id")
    a = side.select(
        F.col("cluster"),
        F.col("id").alias("keep_id"),
        F.col("v").alias("__va"),
        F.col("nrm").alias("__na"),
    )
    b = side.select(
        F.col("cluster"),
        F.col("id").alias("drop_id"),
        F.col("v").alias("__vb"),
        F.col("nrm").alias("__nb"),
    )
    return (
        a.join(b, "cluster")
        .filter(F.col("keep_id") < F.col("drop_id"))
        .select(
            "cluster",
            "keep_id",
            "drop_id",
            F.round(
                _unscale(_dot_scaled("__va", "__vb"))
                / (F.col("__na") * F.col("__nb")),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
