"""Scalar (int8) vector quantization + asymmetric-distance search.

Beyond-reference operators (the reference engine has no vector ops) —
the compression leg of the similarity-search family: brute force
(exact), sign-LSH / IVF (candidate pruning), and now quantization
(bandwidth/footprint). An int8 code table is 4x smaller than float32
vectors; at 100 TB the ANN scan reads the code table and only fetches
full-precision vectors for the small re-rank set — the standard
SQ8 + refine design (Faiss ``SQ8``; Milvus/pgvector offer the same).

Scheme: per-DIMENSION min/max over the corpus define a uniform grid,

    code_i  = clamp(floor((x_i - mn_i) / (mx_i - mn_i) * 2^bits), 0, 2^bits - 1)
    xhat_i  = mn_i + (code_i + 0.5) * (mx_i - mn_i) / 2^bits

and search scores queries (kept float — "asymmetric") against
RECONSTRUCTED candidates, then re-ranks a capped candidate set against
the true vectors.

Determinism contract: the grid math is IEEE-double add/sub/mul/div —
bit-identical across engines by the standard — with ``floor``/clamp on
top, and reconstructed values rounded to 6 decimals; dot products use
the exact scaled-long form shared with ``operators.similarity``. The
DuckDB oracle reproduces every code and every score bit-for-bit.

Scale shape (100 TB): the min/max profile is ONE aggregation over the
element view (dim-bounded output), re-packed to arrays by a broadcast
1-row aggregate embedded in the plan (no driver job); encoding is then
a narrow per-row map. Search shuffles nothing before the per-query
top-k: candidates broadcast-join the (tiny) query side and both ranking
windows key by query_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datafusion_server_spark.operators.scale import (
    ensure_fanout_parallelism,
    quote_ident,
)
from datafusion_server_spark.operators.similarity import (
    SCALE,
    _dot_scaled,
    _elements,
    _unscale,
)


def dim_profile(embeddings: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """ONE-row (mns, mxs) arrays of per-dimension corpus min/max, built
    as: element view -> groupBy position (dim rows) -> sort_array over a
    collect_list 1-row aggregate. The single row is broadcast into the
    encoding plan — never collected to the driver."""
    el = _elements(ensure_fanout_parallelism(embeddings), id_col, vec_col, "id")
    stats = el.groupBy("i").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    return stats.agg(
        F.sort_array(F.collect_list(F.struct("i", "mn", "mx"))).alias("__s")
    ).select(
        F.transform(F.col("__s"), lambda s: s["mn"]).alias("mns"),
        F.transform(F.col("__s"), lambda s: s["mx"]).alias("mxs"),
    )


def _code_expr(vec, bits: int):
    """codes array expression for ``vec`` against the in-scope
    (mns, mxs) profile columns. A flat dimension (mx == mn) encodes 0."""
    levels = float(2**bits)
    top = int(2**bits - 1)
    mns, mxs = F.col("mns"), F.col("mxs")

    def code(x, i):
        mn = F.element_at(mns, i + 1)
        mx = F.element_at(mxs, i + 1)
        raw = F.floor((x.cast("double") - mn) / (mx - mn) * levels)
        return (
            F.when(mx == mn, F.lit(0))
            .otherwise(F.greatest(F.lit(0), F.least(F.lit(top), raw)))
            .cast("int")
        )

    return F.transform(vec, code)


def scalar_quantize(
    embeddings: DataFrame,
    vec_col: str,
    id_col: str,
    bits: int = 8,
    *,
    profile: DataFrame | None = None,
) -> DataFrame:
    """(id, codes array<int>): each element snapped to its dimension's
    2^bits-level uniform grid. Pass a precomputed ``profile`` to encode
    against a frozen grid (e.g. quantizing a new shard against the
    corpus profile)."""
    if profile is None:
        profile = dim_profile(embeddings, vec_col, id_col)
    return embeddings.crossJoin(F.broadcast(profile)).select(
        F.col(id_col).alias("id"),
        _code_expr(F.col(vec_col), bits).alias("codes"),
    )


def _reconstruct(codes, mns, mxs, bits: int):
    """codes array -> rounded xhat array under the (mns, mxs) grid."""
    levels = float(2**bits)

    def xhat(c, i):
        mn = F.element_at(mns, i + 1)
        mx = F.element_at(mxs, i + 1)
        return F.round(mn + (c.cast("double") + 0.5) * (mx - mn) / levels, 6)

    return F.transform(codes, xhat)


def quantized_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = 8,
    rerank_factor: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SQ + refine cosine search: score float queries against int8-
    reconstructed candidates (asymmetric distance), keep the top
    ``rerank_factor * k`` per query by (adc desc, id), re-rank those
    exactly against the true vectors, return the top k.

    Output: (query_id, neighbor_id, cosine, rank) — ``cosine`` is the
    EXACT re-ranked score, so results degrade only by candidate recall,
    never by score precision (the refine contract). Zero-norm vectors
    and reconstructions are dropped (no direction).
    """
    profile = dim_profile(embeddings, vec_col, id_col)
    # encode + dequantize fused into ONE projection over ONE broadcast of
    # the profile — a split scalar_quantize/reconstruct pair would embed
    # the profile subtree (a full element-view pass) twice in the plan
    recon = embeddings.crossJoin(F.broadcast(profile)).select(
        F.col(id_col).alias("neighbor_id"),
        _reconstruct(
            _code_expr(F.col(vec_col), bits), F.col("mns"), F.col("mxs"), bits
        ).alias("__rv"),
    ).select(
        "neighbor_id",
        "__rv",
        F.sqrt(_unscale(_dot_scaled("__rv", "__rv"))).alias("__rnrm"),
    ).filter(F.col("__rnrm") > 0.0)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.sqrt(
            _unscale(_dot_scaled(quote_ident(vec_col), quote_ident(vec_col)))
        ).alias("__qnrm"),
    ).filter(F.col("__qnrm") > 0.0)
    adc = recon.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        F.round(
            _unscale(_dot_scaled("__rv", "__qv"))
            / (F.col("__qnrm") * F.col("__rnrm")),
            6,
        ).alias("adc"),
    )
    wc = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("neighbor_id"))
    cand = (
        adc.withColumn("__cr", F.row_number().over(wc))
        .filter(F.col("__cr") <= rerank_factor * k)
        .select("query_id", "neighbor_id")
    )
    true_c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        F.sqrt(
            _unscale(_dot_scaled(quote_ident(vec_col), quote_ident(vec_col)))
        ).alias("__cnrm"),
    ).filter(F.col("__cnrm") > 0.0)
    exact = (
        cand.join(true_c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _unscale(_dot_scaled("__cv", "__qv"))
                / (F.col("__qnrm") * F.col("__cnrm")),
                6,
            ).alias("cosine"),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        exact.withColumn("rank", F.row_number().over(wk).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# -- product quantization ----------------------------------------------------
#
# PQ (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
# Search") splits each vector into m subspaces and k-means-codes each
# subspace independently: m bytes/vector at n_centroids=256 vs 4*dim
# bytes of float32 — 32x at dim 64. The k-means here is the JOINT
# formulation: all m subspace problems advance in the SAME pass (one
# narrow assignment + ONE map-side-combined aggregation per Lloyd
# iteration, never m corpus passes), with per-(subspace, cluster, dim)
# exact scaled-long sums. Deterministic end-to-end (hash init, strict
# argmin ties to the lower cluster, HALF_UP rounding), so the DuckDB
# oracle replays it sequentially.


def _subspace_view(embeddings: DataFrame, vec_col: str, id_col: str, m: int, subdim: int) -> DataFrame:
    """(id, subspace, sub): one row per (vector, subspace), sub the
    dim/m slice — a narrow generate, no shuffle."""
    slices = F.array(
        *[F.slice(F.col(vec_col), j * subdim + 1, subdim) for j in range(m)]
    )
    return embeddings.select(
        F.col(id_col).alias("id"), F.posexplode(slices).alias("subspace", "sub")
    )


def _pq_init(sub: DataFrame, n_centroids: int, seed: str) -> DataFrame:
    """(subspace, cluster, c): per-subspace hash-rank init — the
    n_centroids sub-vectors with the smallest md5('{seed}:{subspace}:{id}')
    fraction, cluster index in rank order."""
    from datafusion_server_spark.operators.sampling import _HEX_DIGITS, _HEX_SPAN

    h = F.md5(
        F.concat(
            F.lit(f"{seed}:"),
            F.col("subspace").cast("string"),
            F.lit(":"),
            F.col("id").cast("string"),
        )
    )
    frac = F.conv(F.substring(h, 1, _HEX_DIGITS), 16, 10).cast("bigint") / F.lit(
        _HEX_SPAN
    )
    w = Window.partitionBy("subspace").orderBy(frac.asc(), F.col("id").asc())
    return (
        sub.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_centroids)
        .select(
            "subspace",
            (F.col("__rn") - 1).cast("int").alias("cluster"),
            F.transform(F.col("sub"), lambda x: F.round(x.cast("double"), 6)).alias(
                "c"
            ),
        )
    )


def _pq_codebook_row(codebook: DataFrame) -> DataFrame:
    """(subspace, cluster, c) rows -> ONE broadcastable row ``books``:
    array indexed by subspace of arrays of centroid structs."""
    per_sub = codebook.groupBy("subspace").agg(
        F.sort_array(F.collect_list(F.struct("cluster", "c"))).alias("cents")
    )
    return per_sub.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("subspace", "cents"))),
            lambda s: s["cents"],
        ).alias("books")
    )


def _pq_argmin_sql(sub: str, cents: str) -> str:
    """Strict-min fold over one subspace's centroid array, as SQL text —
    ties to the lower cluster index (sorted array + strict less-than)."""
    from datafusion_server_spark.operators.clustering import _d2_scaled_sql

    return (
        f"(AGGREGATE({cents}, "
        "STRUCT(CAST(NULL AS BIGINT) AS d2, -1 AS cluster), "
        "(acc, ct) -> CASE WHEN acc.d2 IS NULL OR "
        f"{_d2_scaled_sql(sub, 'ct.c')} < acc.d2 "
        f"THEN STRUCT({_d2_scaled_sql(sub, 'ct.c')} AS d2, "
        "ct.cluster AS cluster) ELSE acc END)).cluster"
    )


def pq_train(
    embeddings: DataFrame,
    m: int,
    n_centroids: int,
    iters: int = 2,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = "pq",
) -> DataFrame:
    """Train the m per-subspace codebooks jointly for exactly ``iters``
    Lloyd iterations. Returns (subspace, cluster, c). Per iteration: one
    narrow assignment over the (id, subspace) view + ONE aggregation
    whose output is m x n_centroids x dim/m rows regardless of corpus
    size; the k-row codebook localCheckpoints to truncate lineage."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    subdim = dim // m
    sub = _subspace_view(
        ensure_fanout_parallelism(embeddings), vec_col, id_col, m, subdim
    )
    book = _pq_init(sub, n_centroids, seed).localCheckpoint()
    for _ in range(iters):
        row = _pq_codebook_row(book)
        assigned = sub.crossJoin(F.broadcast(row)).selectExpr(
            "subspace",
            "sub",
            _pq_argmin_sql("sub", "ELEMENT_AT(books, subspace + 1)")
            + " AS cluster",
        )
        el = assigned.selectExpr(
            "subspace", "cluster", "POSEXPLODE(sub) AS (__i, __x)"
        )
        means = (
            el.groupBy("subspace", "cluster", "__i")
            .agg(
                F.expr(
                    f"SUM(CAST(ROUND(CAST(__x AS DOUBLE) * {SCALE})"
                    " AS BIGINT)) AS __s"
                ),
                F.expr("CAST(COUNT(1) AS BIGINT) AS __cnt"),
            )
            .selectExpr(
                "subspace",
                "cluster",
                "__i",
                f"ROUND(CAST(__s AS DOUBLE) / __cnt / {SCALE}, 6) AS __m",
            )
            .groupBy("subspace", "cluster")
            .agg(
                F.expr(
                    "TRANSFORM(SORT_ARRAY(COLLECT_LIST(STRUCT(__i, __m))),"
                    " s -> s.__m) AS __newc"
                )
            )
        )
        book = (
            book.join(means, ["subspace", "cluster"], "left")
            .selectExpr("subspace", "cluster", "COALESCE(__newc, c) AS c")
            .localCheckpoint()
        )
    return book


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    n_centroids: int = 16,
    iters: int = 2,
    rerank_factor: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ + refine cosine search: encode candidates to m codes, score
    float queries against the CODEBOOK RECONSTRUCTION (asymmetric
    distance), keep rerank_factor*k per query, re-rank exactly.

    Output: (query_id, neighbor_id, cosine, rank) — exact scores, PQ
    affects candidate recall only. At scale the candidate scan reads m
    small ints per vector; full vectors load only for the re-rank set."""
    subdim = dim // m
    book = pq_train(
        embeddings, m, n_centroids, iters, dim, vec_col, id_col
    )
    row = _pq_codebook_row(book)
    sub = _subspace_view(embeddings, vec_col, id_col, m, subdim)
    # encode + reconstruct per (id, subspace), then re-pack the full
    # reconstruction by id (sort by subspace keeps element order)
    enc = sub.crossJoin(F.broadcast(row)).selectExpr(
        "id",
        "subspace",
        "ELEMENT_AT(ELEMENT_AT(books, subspace + 1), "
        + _pq_argmin_sql("sub", "ELEMENT_AT(books, subspace + 1)")
        + " + 1).c AS __part",
    )
    recon = (
        enc.groupBy("id")
        .agg(
            F.flatten(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("subspace", "__part"))),
                    lambda s: s["__part"],
                )
            ).alias("__rv")
        )
        .select(
            F.col("id").alias("neighbor_id"),
            "__rv",
            F.sqrt(_unscale(_dot_scaled("__rv", "__rv"))).alias(
                "__rnrm"
            ),
        )
        .filter(F.col("__rnrm") > 0.0)
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.sqrt(_unscale(_dot_scaled(quote_ident(vec_col), quote_ident(vec_col)))).alias("__qnrm"),
    ).filter(F.col("__qnrm") > 0.0)
    adc = recon.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id")).select(
        "query_id",
        "neighbor_id",
        F.round(
            _unscale(_dot_scaled("__rv", "__qv"))
            / (F.col("__qnrm") * F.col("__rnrm")),
            6,
        ).alias("adc"),
    )
    wc = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("neighbor_id"))
    cand = (
        adc.withColumn("__cr", F.row_number().over(wc))
        .filter(F.col("__cr") <= rerank_factor * k)
        .select("query_id", "neighbor_id")
    )
    true_c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        F.sqrt(_unscale(_dot_scaled(quote_ident(vec_col), quote_ident(vec_col)))).alias("__cnrm"),
    ).filter(F.col("__cnrm") > 0.0)
    exact = (
        cand.join(true_c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _unscale(_dot_scaled("__cv", "__qv"))
                / (F.col("__qnrm") * F.col("__cnrm")),
                6,
            ).alias("cosine"),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        exact.withColumn("rank", F.row_number().over(wk).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivf_sq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    bits: int = 8,
    rerank_factor: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-SQ: the composed index (Faiss ``IVFx,SQ8`` shape) — the IVF
    coarse quantizer restricts candidates to the query's inverted list,
    int8 reconstructions score them (asymmetric distance), and the top
    ``rerank_factor * k`` re-rank against true vectors. Each stage cuts
    the next one's work: cells bound the candidate count, codes bound
    the bytes read per candidate, refine bounds the full-precision
    fetches. Output: (query_id, neighbor_id, cosine, rank), exact
    scores.

    Scale shape: the cell join keys on centroid_id (candidates never
    cross cells); everything else mirrors ``quantized_topk`` — one
    broadcast profile row, narrow encode+reconstruct, per-query ranking
    windows."""
    from datafusion_server_spark.operators.similarity import ivf_assign

    assign = ivf_assign(embeddings, n_centroids, vec_col, id_col)
    profile = dim_profile(embeddings, vec_col, id_col)
    recon = embeddings.crossJoin(F.broadcast(profile)).select(
        F.col(id_col).alias("id"),
        _reconstruct(
            _code_expr(F.col(vec_col), bits), F.col("mns"), F.col("mxs"), bits
        ).alias("__rv"),
    ).select(
        "id",
        "__rv",
        F.sqrt(_unscale(_dot_scaled("__rv", "__rv"))).alias("__rnrm"),
    ).filter(F.col("__rnrm") > 0.0)
    q_ids = queries.select(F.col(id_col).alias("id"))
    q_assign = assign.join(q_ids, "id").select(
        F.col("id").alias("query_id"), "centroid_id"
    )
    c_assign = assign.select(F.col("id").alias("neighbor_id"), "centroid_id")
    pairs = q_assign.join(c_assign, "centroid_id").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.sqrt(_unscale(_dot_scaled(quote_ident(vec_col), quote_ident(vec_col)))).alias("__qnrm"),
    ).filter(F.col("__qnrm") > 0.0)
    adc = (
        pairs.join(
            recon.select(
                F.col("id").alias("neighbor_id"), "__rv", "__rnrm"
            ),
            "neighbor_id",
        )
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _unscale(_dot_scaled("__rv", "__qv"))
                / (F.col("__qnrm") * F.col("__rnrm")),
                6,
            ).alias("adc"),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("neighbor_id"))
    cand = (
        adc.withColumn("__cr", F.row_number().over(wc))
        .filter(F.col("__cr") <= rerank_factor * k)
        .select("query_id", "neighbor_id")
    )
    true_c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        F.sqrt(_unscale(_dot_scaled(quote_ident(vec_col), quote_ident(vec_col)))).alias("__cnrm"),
    ).filter(F.col("__cnrm") > 0.0)
    exact = (
        cand.join(true_c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _unscale(_dot_scaled("__cv", "__qv"))
                / (F.col("__qnrm") * F.col("__cnrm")),
                6,
            ).alias("cosine"),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        exact.withColumn("rank", F.row_number().over(wk).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
