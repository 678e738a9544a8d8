"""Similarity-search query inventory: Spark side = operators.similarity;
oracle = DuckDB SQL with identical scaled-long dot products: per-element
``CAST(ROUND(x*y*1e12) AS BIGINT)`` summed as integers — exact,
order-independent, and bit-identical in both engines (DuckDB sums BIGINT
into HUGEINT, so the sum is cast back to BIGINT before use)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_server_spark import tables
from datafusion_server_spark.operators import similarity
from datafusion_server_spark.queries import df_query

K = 5
PLANES = 8
DIM = 64
N_QUERIES = 10  # query vectors: vec_id < 10

# Element-level view + exact scaled-long norms, shared by the oracles.
_EL_CTE = """
el AS (SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS x,
              GENERATE_SUBSCRIPTS(embedding, 1) AS i
       FROM embeddings),
norms AS (SELECT vec_id,
                 SQRT(CAST(CAST(SUM(CAST(ROUND(x * x * 1e12) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12) AS nrm
          FROM el GROUP BY vec_id)
"""

_KNN_ORACLE = f"""
WITH {_EL_CTE},
dots AS (
  SELECT qa.vec_id AS query_id, ca.vec_id AS neighbor_id,
         CAST(SUM(CAST(ROUND(qa.x * ca.x * 1e12) AS BIGINT)) AS BIGINT) AS dot
  FROM el qa JOIN el ca ON ca.i = qa.i AND ca.vec_id <> qa.vec_id
  WHERE qa.vec_id < {N_QUERIES}
  GROUP BY 1, 2),
scored AS (
  SELECT d.query_id, d.neighbor_id,
         ROUND((CAST(d.dot AS DOUBLE) / 1e12) / (nq.nrm * nc.nrm), 6) AS cosine
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.neighbor_id)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM scored) t
WHERE rnk <= {K}
"""


@df_query("knn_bruteforce_cosine", _KNN_ORACLE)
def knn_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, emb.filter(F.col("vec_id") < N_QUERIES), K)


def _codes_cte(planes: int = PLANES) -> str:
    """Per-vector LSH bucket code, reproducing operators.similarity's
    hyperplane signs via md5 (weights identical by construction)."""
    plane_list = ", ".join(str(p) for p in range(planes))
    return f"""
codes AS (
  SELECT el.vec_id, ps.p,
         CASE WHEN CAST(SUM(CAST(ROUND((CASE WHEN SUBSTR(md5(CAST(ps.p AS STRING) || ':' || CAST(el.i - 1 AS STRING)), 1, 1) >= '8'
                                       THEN el.x ELSE -el.x END) * 1e12) AS BIGINT)) AS BIGINT) > 0
              THEN '1' ELSE '0' END AS bit
  FROM el, (SELECT UNNEST([{plane_list}]) AS p) ps
  GROUP BY el.vec_id, ps.p),
buckets AS (SELECT vec_id, STRING_AGG(bit, '' ORDER BY p) AS bucket FROM codes GROUP BY vec_id)
"""


_ANN_ORACLE = f"""
WITH {_EL_CTE}, {_codes_cte()},
q AS (SELECT vec_id AS query_id, bucket AS q_bucket FROM buckets WHERE vec_id < {N_QUERIES}),
cand AS (
  SELECT q.query_id, b.vec_id AS neighbor_id
  FROM q JOIN buckets b ON b.bucket = q.q_bucket AND b.vec_id <> q.query_id),
dots AS (
  SELECT c.query_id, c.neighbor_id,
         CAST(SUM(CAST(ROUND(qa.x * ca.x * 1e12) AS BIGINT)) AS BIGINT) AS dot
  FROM cand c
  JOIN el qa ON qa.vec_id = c.query_id
  JOIN el ca ON ca.vec_id = c.neighbor_id AND ca.i = qa.i
  GROUP BY 1, 2),
scored AS (
  SELECT d.query_id, d.neighbor_id,
         ROUND((CAST(d.dot AS DOUBLE) / 1e12) / (nq.nrm * nc.nrm), 6) AS cosine
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.neighbor_id)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM scored) t
WHERE rnk <= {K}
"""


# materialize per registered query follows a per-operator A/B at sf0.1
# (re-measured each round; bench.py labels every pinned variant and also
# times the twin). r8: BOTH ANN queries now run the OPERATOR DEFAULT
# materialize=True — after the bench ingest dropped the in-memory cache
# (parquet-direct reads), recomputing the codes table re-reads parquet
# on both join sides and the eager checkpoint wins the interleaved A/B
# on every row tried (ann_lsh_cosine: 0.713 vs 0.844 min-of-5 idle;
# ann_lsh_scaled: all checkpoint placements 0.83-0.87 vs 1.03 without).
# The earlier materialize=False pin was an artifact of the cached-table
# era (duplicated agg stages ran on idle cores against cache blocks).
# At real scale the staging write wins everywhere, which is why the
# operator default has always been True; the recompute twins stay
# registered so the A/B re-runs every bench.


@df_query("ann_lsh_cosine", _ANN_ORACLE)
def ann_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load(spark, sf_dir, "embeddings")
    return similarity.lsh_ann_topk(
        emb, emb.filter(F.col("vec_id") < N_QUERIES), K, PLANES, DIM, materialize=True
    )


# Scale-parameterized banded ANN (VERDICT round-1 item 5): 4 bands x 4
# bits = 16 hyperplanes, multi-probe OR-of-ANDs candidates ranked by
# shared-band count and capped per query. Parameters pinned here so the
# oracle is a static string; the operator derives band_bits from corpus
# size when not pinned (unit-tested separately).
BANDS = 4
BAND_BITS = 4
MAX_CAND = 64

_SCALED_ANN_ORACLE = f"""
WITH {_EL_CTE}, {_codes_cte(BANDS * BAND_BITS)},
bandcodes AS (
  SELECT vec_id, bs.b, SUBSTR(bucket, bs.b * {BAND_BITS} + 1, {BAND_BITS}) AS code
  FROM buckets, (SELECT UNNEST([{", ".join(str(b) for b in range(BANDS))}]) AS b) bs),
shared AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, COUNT(*) AS nb
  FROM bandcodes q
  JOIN bandcodes c ON c.b = q.b AND c.code = q.code AND c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
  GROUP BY 1, 2),
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY nb DESC, neighbor_id) AS rc
    FROM shared) t
  WHERE rc <= {MAX_CAND}),
dots AS (
  SELECT c.query_id, c.neighbor_id,
         CAST(SUM(CAST(ROUND(qa.x * ca.x * 1e12) AS BIGINT)) AS BIGINT) AS dot
  FROM cand c
  JOIN el qa ON qa.vec_id = c.query_id
  JOIN el ca ON ca.vec_id = c.neighbor_id AND ca.i = qa.i
  GROUP BY 1, 2),
scored AS (
  SELECT d.query_id, d.neighbor_id,
         ROUND((CAST(d.dot AS DOUBLE) / 1e12) / (nq.nrm * nc.nrm), 6) AS cosine
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.neighbor_id)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM scored) t
WHERE rnk <= {K}
"""


@df_query("ann_lsh_scaled", _SCALED_ANN_ORACLE)
def ann_lsh_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load(spark, sf_dir, "embeddings")
    return similarity.scaled_lsh_ann_topk(
        emb,
        emb.filter(F.col("vec_id") < N_QUERIES),
        K,
        DIM,
        bands=BANDS,
        band_bits=BAND_BITS,
        max_candidates=MAX_CAND,
        materialize=True,
    )


# Variant twins of the two ANN bench queries: identical parameters and
# oracle, opposite materialize setting. bench.py times these alongside
# the headline entries and labels both — VERDICT r3 "what's wrong" #3.


@df_query("ann_lsh_cosine_recompute", _ANN_ORACLE)
def ann_lsh_cosine_recompute(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load(spark, sf_dir, "embeddings")
    return similarity.lsh_ann_topk(
        emb, emb.filter(F.col("vec_id") < N_QUERIES), K, PLANES, DIM, materialize=False
    )


@df_query("ann_lsh_scaled_recompute", _SCALED_ANN_ORACLE)
def ann_lsh_scaled_recompute(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load(spark, sf_dir, "embeddings")
    return similarity.scaled_lsh_ann_topk(
        emb,
        emb.filter(F.col("vec_id") < N_QUERIES),
        K,
        DIM,
        bands=BANDS,
        band_bits=BAND_BITS,
        max_candidates=MAX_CAND,
        materialize=False,
    )


N_CENTROIDS = 16

_IVF_ORACLE = f"""
WITH {_EL_CTE},
cdots AS (
  SELECT e.vec_id AS id, c.vec_id AS centroid_id,
         CAST(SUM(CAST(ROUND(c.x * e.x * 1e12) AS BIGINT)) AS BIGINT) AS dot
  FROM el e JOIN el c ON c.i = e.i AND c.vec_id < {N_CENTROIDS}
  GROUP BY 1, 2),
assign AS (
  SELECT id, centroid_id FROM (
    SELECT s.id, s.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY s.id ORDER BY s.cos_c DESC, s.centroid_id) AS rn
    FROM (SELECT d.id, d.centroid_id,
                 ROUND((CAST(d.dot AS DOUBLE) / 1e12) / (ne.nrm * nc.nrm), 6) AS cos_c
          FROM cdots d
          JOIN norms ne ON ne.vec_id = d.id
          JOIN norms nc ON nc.vec_id = d.centroid_id) s) t
  WHERE rn = 1),
pairs AS (
  SELECT q.id AS query_id, c.id AS neighbor_id
  FROM assign q JOIN assign c
    ON c.centroid_id = q.centroid_id AND c.id <> q.id
  WHERE q.id < {N_QUERIES}),
dots AS (
  SELECT p.query_id, p.neighbor_id,
         CAST(SUM(CAST(ROUND(qa.x * ca.x * 1e12) AS BIGINT)) AS BIGINT) AS dot
  FROM pairs p
  JOIN el qa ON qa.vec_id = p.query_id
  JOIN el ca ON ca.vec_id = p.neighbor_id AND ca.i = qa.i
  GROUP BY 1, 2),
scored AS (
  SELECT d.query_id, d.neighbor_id,
         ROUND((CAST(d.dot AS DOUBLE) / 1e12) / (nq.nrm * nc.nrm), 6) AS cosine
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.neighbor_id)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM scored) t
WHERE rnk <= {K}
"""


@df_query("ann_ivf_cosine", _IVF_ORACLE)
def ann_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        emb, emb.filter(F.col("vec_id") < N_QUERIES), K, N_CENTROIDS, materialize=False
    )


# Banded near-dup (round-3 default in the operator): a pair is a
# candidate when ANY of the BANDS band codes collides (multi-probe
# OR-of-ANDs), mirroring the scaled ANN's candidate scheme — the
# scale-safe shape. Parameters pinned so the oracle is a static string.
NEARDUP_THRESHOLD = 0.5

# Shared pair-generation CTE chain (bandcodes -> candidate pairs ->
# scaled-long dots) — used by BOTH the pair query and the clustering
# query so the two oracles can never desynchronize.
_NEARDUP_PAIR_CTES = f"""
bandcodes AS (
  SELECT vec_id, bs.b, SUBSTR(bucket, bs.b * {BAND_BITS} + 1, {BAND_BITS}) AS code
  FROM buckets, (SELECT UNNEST([{", ".join(str(b) for b in range(BANDS))}]) AS b) bs),
pairs AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bandcodes a JOIN bandcodes b
    ON a.b = b.b AND a.code = b.code AND a.vec_id < b.vec_id),
dots AS (
  SELECT p.id_a, p.id_b, CAST(SUM(CAST(ROUND(ea.x * eb.x * 1e12) AS BIGINT)) AS BIGINT) AS dot
  FROM pairs p
  JOIN el ea ON ea.vec_id = p.id_a
  JOIN el eb ON eb.vec_id = p.id_b AND eb.i = ea.i
  GROUP BY 1, 2)
"""

_NEARDUP_ORACLE = f"""
WITH {_EL_CTE}, {_codes_cte(BANDS * BAND_BITS)}, {_NEARDUP_PAIR_CTES}
SELECT d.id_a, d.id_b,
       ROUND((CAST(d.dot AS DOUBLE) / 1e12) / (na.nrm * nb.nrm), 6) AS cosine
FROM dots d
JOIN norms na ON na.vec_id = d.id_a
JOIN norms nb ON nb.vec_id = d.id_b
WHERE ROUND((CAST(d.dot AS DOUBLE) / 1e12) / (na.nrm * nb.nrm), 6) >= {NEARDUP_THRESHOLD}
"""


@df_query("embedding_near_duplicates", _NEARDUP_ORACLE)
def embedding_near_duplicates_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load(spark, sf_dir, "embeddings")
    return similarity.embedding_near_duplicates(
        emb,
        threshold=NEARDUP_THRESHOLD,
        dim=DIM,
        bands=BANDS,
        band_bits=BAND_BITS,
        materialize=False,
    )


# Embedding-side dedup clustering: banded near-dup pairs -> connected
# components -> per-cluster survivor + size (the embedding mirror of
# dedup_clusters; oracle = the SAME _NEARDUP_PAIR_CTES + recursive-CTE
# closure, so the pair and cluster oracles cannot desynchronize).
_EMB_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_EL_CTE}, {_codes_cte(BANDS * BAND_BITS)}, {_NEARDUP_PAIR_CTES},
scored AS (
  SELECT d.id_a, d.id_b
  FROM dots d
  JOIN norms na ON na.vec_id = d.id_a
  JOIN norms nb ON nb.vec_id = d.id_b
  WHERE ROUND((CAST(d.dot AS DOUBLE) / 1e12) / (na.nrm * nb.nrm), 6) >= {NEARDUP_THRESHOLD}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM scored
  UNION SELECT id_b, id_a FROM scored),
reach(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node),
comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node)
SELECT CAST(component AS BIGINT) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS n_members
FROM comp GROUP BY component
"""


@df_query("embedding_dedup_clusters", _EMB_CLUSTERS_ORACLE)
def embedding_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_server_spark.operators import dedup as dedup_ops

    emb = tables.load(spark, sf_dir, "embeddings")
    pairs = similarity.embedding_near_duplicates(
        emb,
        threshold=NEARDUP_THRESHOLD,
        dim=DIM,
        bands=BANDS,
        band_bits=BAND_BITS,
        materialize=False,
    ).select("id_a", "id_b")
    comp = dedup_ops.connected_components(pairs)
    return comp.groupBy(F.col("component").cast("bigint").alias("keep_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )


# int8 scalar quantization + asymmetric-distance search with exact
# refine (operators.quantize). The grid math (sub/div/mul/floor) is
# IEEE-double — bit-identical across engines — and reconstructed values
# round to 6 decimals before the scaled-long dots.
_SQ_RERANK = 4

_SQ_ORACLE = f"""
WITH {_EL_CTE},
stats AS (SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM el GROUP BY i),
codes AS (
  SELECT el.vec_id, el.i,
         CASE WHEN s.mx = s.mn THEN 0
              ELSE CAST(GREATEST(0, LEAST(255, FLOOR((el.x - s.mn) / (s.mx - s.mn) * 256.0))) AS INT)
         END AS code
  FROM el JOIN stats s ON s.i = el.i),
recon AS (
  SELECT c.vec_id, c.i,
         ROUND(s.mn + (CAST(c.code AS DOUBLE) + 0.5) * (s.mx - s.mn) / 256.0, 6) AS xh
  FROM codes c JOIN stats s ON s.i = c.i),
rnorms AS (SELECT vec_id,
                  SQRT(CAST(CAST(SUM(CAST(ROUND(xh * xh * 1e12) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12) AS rnrm
           FROM recon GROUP BY vec_id),
adc AS (
  SELECT qa.vec_id AS query_id, r.vec_id AS neighbor_id,
         ROUND((CAST(CAST(SUM(CAST(ROUND(qa.x * r.xh * 1e12) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12)
               / (nq.nrm * rn.rnrm), 6) AS adc
  FROM el qa
  JOIN recon r ON r.i = qa.i AND r.vec_id <> qa.vec_id
  JOIN norms nq ON nq.vec_id = qa.vec_id
  JOIN rnorms rn ON rn.vec_id = r.vec_id
  WHERE qa.vec_id < {N_QUERIES} AND nq.nrm > 0 AND rn.rnrm > 0
  GROUP BY 1, 2, nq.nrm, rn.rnrm),
cand AS (
  SELECT query_id, neighbor_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc DESC, neighbor_id) AS cr
        FROM adc) t
  WHERE cr <= {_SQ_RERANK * K}),
exact AS (
  SELECT c.query_id, c.neighbor_id,
         ROUND((CAST(CAST(SUM(CAST(ROUND(qa.x * ca.x * 1e12) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12)
               / (nq.nrm * nc.nrm), 6) AS cosine
  FROM cand c
  JOIN el qa ON qa.vec_id = c.query_id
  JOIN el ca ON ca.vec_id = c.neighbor_id AND ca.i = qa.i
  JOIN norms nq ON nq.vec_id = c.query_id
  JOIN norms nc ON nc.vec_id = c.neighbor_id
  WHERE nc.nrm > 0
  GROUP BY 1, 2, nq.nrm, nc.nrm)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM exact) t
WHERE rnk <= {K}
"""


@df_query("ann_sq8_cosine", _SQ_ORACLE)
def ann_sq8_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_server_spark.operators import quantize

    emb = tables.load(spark, sf_dir, "embeddings")
    return quantize.quantized_topk(
        emb,
        emb.filter(F.col("vec_id") < N_QUERIES),
        K,
        rerank_factor=_SQ_RERANK,
    )


# IVF-SQ composed index (operators.quantize.ivf_sq_topk): IVF cell
# restriction (nprobe=1 both sides, first-N-vectors codebook — the
# pinned _IVF_ORACLE scheme) + SQ8 asymmetric scoring + exact refine.
# Every CTE below reuses the exact form of its parent oracle, so the
# two stages cannot desynchronize from their standalone rows.
_IVFSQ_ORACLE = f"""
WITH {_EL_CTE},
cdots AS (
  SELECT e.vec_id AS id, c.vec_id AS centroid_id,
         CAST(SUM(CAST(ROUND(c.x * e.x * 1e12) AS BIGINT)) AS BIGINT) AS dot
  FROM el e JOIN el c ON c.i = e.i AND c.vec_id < {N_CENTROIDS}
  GROUP BY 1, 2),
assign AS (
  SELECT id, centroid_id FROM (
    SELECT s.id, s.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY s.id ORDER BY s.cos_c DESC, s.centroid_id) AS rn
    FROM (SELECT d.id, d.centroid_id,
                 ROUND((CAST(d.dot AS DOUBLE) / 1e12) / (ne.nrm * nc.nrm), 6) AS cos_c
          FROM cdots d
          JOIN norms ne ON ne.vec_id = d.id
          JOIN norms nc ON nc.vec_id = d.centroid_id) s) t
  WHERE rn = 1),
stats AS (SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM el GROUP BY i),
codes AS (
  SELECT el.vec_id, el.i,
         CASE WHEN s.mx = s.mn THEN 0
              ELSE CAST(GREATEST(0, LEAST(255, FLOOR((el.x - s.mn) / (s.mx - s.mn) * 256.0))) AS INT)
         END AS code
  FROM el JOIN stats s ON s.i = el.i),
recon AS (
  SELECT c.vec_id, c.i,
         ROUND(s.mn + (CAST(c.code AS DOUBLE) + 0.5) * (s.mx - s.mn) / 256.0, 6) AS xh
  FROM codes c JOIN stats s ON s.i = c.i),
rnorms AS (SELECT vec_id,
                  SQRT(CAST(CAST(SUM(CAST(ROUND(xh * xh * 1e12) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12) AS rnrm
           FROM recon GROUP BY vec_id),
pairs AS (
  SELECT q.id AS query_id, c.id AS neighbor_id
  FROM assign q JOIN assign c
    ON c.centroid_id = q.centroid_id AND c.id <> q.id
  WHERE q.id < {N_QUERIES}),
adc AS (
  SELECT p.query_id, p.neighbor_id,
         ROUND((CAST(CAST(SUM(CAST(ROUND(qa.x * r.xh * 1e12) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12)
               / (nq.nrm * rn.rnrm), 6) AS adc
  FROM pairs p
  JOIN el qa ON qa.vec_id = p.query_id
  JOIN recon r ON r.vec_id = p.neighbor_id AND r.i = qa.i
  JOIN norms nq ON nq.vec_id = p.query_id
  JOIN rnorms rn ON rn.vec_id = p.neighbor_id
  WHERE nq.nrm > 0 AND rn.rnrm > 0
  GROUP BY 1, 2, nq.nrm, rn.rnrm),
cand AS (
  SELECT query_id, neighbor_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc DESC, neighbor_id) AS cr
        FROM adc) t
  WHERE cr <= {_SQ_RERANK * K}),
exact AS (
  SELECT c.query_id, c.neighbor_id,
         ROUND((CAST(CAST(SUM(CAST(ROUND(qa.x * ca.x * 1e12) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12)
               / (nq.nrm * nc.nrm), 6) AS cosine
  FROM cand c
  JOIN el qa ON qa.vec_id = c.query_id
  JOIN el ca ON ca.vec_id = c.neighbor_id AND ca.i = qa.i
  JOIN norms nq ON nq.vec_id = c.query_id
  JOIN norms nc ON nc.vec_id = c.neighbor_id
  WHERE nc.nrm > 0
  GROUP BY 1, 2, nq.nrm, nc.nrm)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM exact) t
WHERE rnk <= {K}
"""


@df_query("ann_ivfsq_cosine", _IVFSQ_ORACLE)
def ann_ivfsq_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_server_spark.operators import quantize

    emb = tables.load(spark, sf_dir, "embeddings")
    return quantize.ivf_sq_topk(
        emb,
        emb.filter(F.col("vec_id") < N_QUERIES),
        K,
        n_centroids=N_CENTROIDS,
        rerank_factor=_SQ_RERANK,
    )


# Self-evaluating index quality: recall@K of the SQ8+refine index
# against the exact brute-force top-K, as ONE DataFrame program — the
# eval harness a pipeline runs after (re)building an ANN index. The
# oracle composes the two parents' exact CTE chains.
_RECALL_ORACLE = f"""
WITH {_EL_CTE},
bdots AS (
  SELECT qa.vec_id AS query_id, ca.vec_id AS neighbor_id,
         CAST(SUM(CAST(ROUND(qa.x * ca.x * 1e12) AS BIGINT)) AS BIGINT) AS dot
  FROM el qa JOIN el ca ON ca.i = qa.i AND ca.vec_id <> qa.vec_id
  WHERE qa.vec_id < {N_QUERIES}
  GROUP BY 1, 2),
brute AS (
  SELECT query_id, neighbor_id
  FROM (SELECT d.query_id, d.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY d.query_id
                                  ORDER BY ROUND((CAST(d.dot AS DOUBLE) / 1e12) / (nq.nrm * nc.nrm), 6) DESC,
                                           d.neighbor_id) AS rnk
        FROM bdots d
        JOIN norms nq ON nq.vec_id = d.query_id
        JOIN norms nc ON nc.vec_id = d.neighbor_id) t
  WHERE rnk <= {K}),
stats AS (SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM el GROUP BY i),
codes AS (
  SELECT el.vec_id, el.i,
         CASE WHEN s.mx = s.mn THEN 0
              ELSE CAST(GREATEST(0, LEAST(255, FLOOR((el.x - s.mn) / (s.mx - s.mn) * 256.0))) AS INT)
         END AS code
  FROM el JOIN stats s ON s.i = el.i),
recon AS (
  SELECT c.vec_id, c.i,
         ROUND(s.mn + (CAST(c.code AS DOUBLE) + 0.5) * (s.mx - s.mn) / 256.0, 6) AS xh
  FROM codes c JOIN stats s ON s.i = c.i),
rnorms AS (SELECT vec_id,
                  SQRT(CAST(CAST(SUM(CAST(ROUND(xh * xh * 1e12) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12) AS rnrm
           FROM recon GROUP BY vec_id),
adc AS (
  SELECT qa.vec_id AS query_id, r.vec_id AS neighbor_id,
         ROUND((CAST(CAST(SUM(CAST(ROUND(qa.x * r.xh * 1e12) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12)
               / (nq.nrm * rn.rnrm), 6) AS adc
  FROM el qa
  JOIN recon r ON r.i = qa.i AND r.vec_id <> qa.vec_id
  JOIN norms nq ON nq.vec_id = qa.vec_id
  JOIN rnorms rn ON rn.vec_id = r.vec_id
  WHERE qa.vec_id < {N_QUERIES} AND nq.nrm > 0 AND rn.rnrm > 0
  GROUP BY 1, 2, nq.nrm, rn.rnrm),
cand AS (
  SELECT query_id, neighbor_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc DESC, neighbor_id) AS cr
        FROM adc) t
  WHERE cr <= {_SQ_RERANK * K}),
exact AS (
  SELECT c.query_id, c.neighbor_id,
         ROUND((CAST(CAST(SUM(CAST(ROUND(qa.x * ca.x * 1e12) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12)
               / (nq.nrm * nc.nrm), 6) AS cosine
  FROM cand c
  JOIN el qa ON qa.vec_id = c.query_id
  JOIN el ca ON ca.vec_id = c.neighbor_id AND ca.i = qa.i
  JOIN norms nq ON nq.vec_id = c.query_id
  JOIN norms nc ON nc.vec_id = c.neighbor_id
  WHERE nc.nrm > 0
  GROUP BY 1, 2, nq.nrm, nc.nrm),
sq AS (
  SELECT query_id, neighbor_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM exact) t
  WHERE rnk <= {K})
SELECT b.query_id, CAST(COUNT(s.neighbor_id) AS BIGINT) AS n_hits,
       ROUND(CAST(COUNT(s.neighbor_id) AS DOUBLE) / {float(K)}, 6) AS recall
FROM brute b
LEFT JOIN sq s ON s.query_id = b.query_id AND s.neighbor_id = b.neighbor_id
GROUP BY b.query_id
"""


@df_query("eval_ann_sq8_recall", _RECALL_ORACLE)
def eval_ann_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_server_spark.operators import quantize

    emb = tables.load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    brute = similarity.cosine_topk(emb, q, K).select("query_id", "neighbor_id")
    sq = quantize.quantized_topk(emb, q, K, rerank_factor=_SQ_RERANK).select(
        F.col("query_id").alias("__qs"), F.col("neighbor_id").alias("__ns")
    )
    return (
        brute.join(
            sq,
            (F.col("query_id") == F.col("__qs"))
            & (F.col("neighbor_id") == F.col("__ns")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("__ns").cast("bigint").alias("n_hits"),
            F.round(F.count("__ns").cast("double") / float(K), 6).alias("recall"),
        )
    )


# nDCG@K of the SQ8 index against brute-force graded relevance: gains
# are the EXACT cosines (+1 shift to nonnegative), the ideal ranking is
# the brute top-K by construction. Completes the eval set: recall@K
# (set overlap), RBO (rank agreement), nDCG (graded position-weighted).
_NDCG_ORACLE = f"""
WITH {_EL_CTE},
bdots AS (
  SELECT qa.vec_id AS query_id, ca.vec_id AS neighbor_id,
         CAST(SUM(CAST(ROUND(qa.x * ca.x * 1e12) AS BIGINT)) AS BIGINT) AS dot
  FROM el qa JOIN el ca ON ca.i = qa.i AND ca.vec_id <> qa.vec_id
  WHERE qa.vec_id < {N_QUERIES}
  GROUP BY 1, 2),
bscored AS (
  SELECT d.query_id, d.neighbor_id,
         ROUND((CAST(d.dot AS DOUBLE) / 1e12) / (nq.nrm * nc.nrm), 6) AS cosine
  FROM bdots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.neighbor_id),
brute AS (
  SELECT query_id, neighbor_id, cosine, rnk
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM bscored) t
  WHERE rnk <= {K}),
stats AS (SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM el GROUP BY i),
codes AS (
  SELECT el.vec_id, el.i,
         CASE WHEN s.mx = s.mn THEN 0
              ELSE CAST(GREATEST(0, LEAST(255, FLOOR((el.x - s.mn) / (s.mx - s.mn) * 256.0))) AS INT)
         END AS code
  FROM el JOIN stats s ON s.i = el.i),
recon AS (
  SELECT c.vec_id, c.i,
         ROUND(s.mn + (CAST(c.code AS DOUBLE) + 0.5) * (s.mx - s.mn) / 256.0, 6) AS xh
  FROM codes c JOIN stats s ON s.i = c.i),
rnorms AS (SELECT vec_id,
                  SQRT(CAST(CAST(SUM(CAST(ROUND(xh * xh * 1e12) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12) AS rnrm
           FROM recon GROUP BY vec_id),
adc AS (
  SELECT qa.vec_id AS query_id, r.vec_id AS neighbor_id,
         ROUND((CAST(CAST(SUM(CAST(ROUND(qa.x * r.xh * 1e12) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12)
               / (nq.nrm * rn.rnrm), 6) AS adc
  FROM el qa
  JOIN recon r ON r.i = qa.i AND r.vec_id <> qa.vec_id
  JOIN norms nq ON nq.vec_id = qa.vec_id
  JOIN rnorms rn ON rn.vec_id = r.vec_id
  WHERE qa.vec_id < {N_QUERIES} AND nq.nrm > 0 AND rn.rnrm > 0
  GROUP BY 1, 2, nq.nrm, rn.rnrm),
cand AS (
  SELECT query_id, neighbor_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc DESC, neighbor_id) AS cr
        FROM adc) t
  WHERE cr <= {_SQ_RERANK * K}),
exact AS (
  SELECT c.query_id, c.neighbor_id,
         ROUND((CAST(CAST(SUM(CAST(ROUND(qa.x * ca.x * 1e12) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12)
               / (nq.nrm * nc.nrm), 6) AS cosine
  FROM cand c
  JOIN el qa ON qa.vec_id = c.query_id
  JOIN el ca ON ca.vec_id = c.neighbor_id AND ca.i = qa.i
  JOIN norms nq ON nq.vec_id = c.query_id
  JOIN norms nc ON nc.vec_id = c.neighbor_id
  WHERE nc.nrm > 0
  GROUP BY 1, 2, nq.nrm, nc.nrm),
sq AS (
  SELECT query_id, neighbor_id, cosine, rnk
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM exact) t
  WHERE rnk <= {K}),
dcg AS (
  SELECT query_id,
         SUM(CAST(ROUND((cosine + 1.0) / (LN(CAST(rnk + 1 AS DOUBLE)) / LN(2.0)), 8) AS DECIMAL(18,8))) AS v
  FROM sq GROUP BY query_id),
idcg AS (
  SELECT query_id,
         SUM(CAST(ROUND((cosine + 1.0) / (LN(CAST(rnk + 1 AS DOUBLE)) / LN(2.0)), 8) AS DECIMAL(18,8))) AS v
  FROM brute GROUP BY query_id)
SELECT d.query_id, ROUND(CAST(d.v AS DOUBLE) / CAST(i.v AS DOUBLE), 6) AS ndcg
FROM dcg d JOIN idcg i ON i.query_id = d.query_id
"""


@df_query("eval_ann_sq8_ndcg", _NDCG_ORACLE)
def eval_ann_sq8_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_server_spark.operators import quantize

    emb = tables.load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES)

    def dcg(df):
        term = F.round(
            (F.col("cosine") + 1.0)
            / (F.log(F.col("rank").cast("double") + 1.0) / F.log(F.lit(2.0))),
            8,
        ).cast("decimal(18,8)")
        return df.groupBy("query_id").agg(F.sum(term).alias("v"))

    brute = similarity.cosine_topk(emb, q, K)
    sq = quantize.quantized_topk(emb, q, K, rerank_factor=_SQ_RERANK)
    return (
        dcg(sq)
        .join(dcg(brute).select(F.col("query_id"), F.col("v").alias("__iv")), "query_id")
        .select(
            "query_id",
            F.round(F.col("v").cast("double") / F.col("__iv").cast("double"), 6).alias(
                "ndcg"
            ),
        )
    )


# --- MMR diverse selection (r7) ----------------------------------------------
# Greedy maximal-marginal-relevance rerank: oracle unrolls the k greedy
# steps as MATERIALIZED CTE levels (each references the previous
# selection multiple times — the Bradley-Terry inlining lesson) over
# the same scaled-long rounded-6 cosines, so agreement proves the
# selection order, not just the similarity math.

_MMR_K = 5
_MMR_SHORT = 20
_MMR_QID = 0


def _mmr_oracle() -> str:
    cos = (
        "ROUND((CAST(CAST(SUM(CAST(ROUND({xa} * {xb} * 1e12) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12)"
        " / ({na} * {nb}), 6)"
    )
    parts = [f"""{_EL_CTE},
qrel AS MATERIALIZED (
  SELECT ca.vec_id AS id,
         {cos.format(xa="qa.x", xb="ca.x", na="nq.nrm", nb="nc.nrm")} AS rel
  FROM el qa JOIN el ca ON ca.i = qa.i AND ca.vec_id <> qa.vec_id
  JOIN norms nq ON nq.vec_id = qa.vec_id
  JOIN norms nc ON nc.vec_id = ca.vec_id
  WHERE qa.vec_id = {_MMR_QID}
  GROUP BY ca.vec_id, nq.nrm, nc.nrm),
short AS MATERIALIZED (SELECT id, rel FROM qrel ORDER BY rel DESC, id LIMIT {_MMR_SHORT}),
spairs AS MATERIALIZED (
  SELECT a.vec_id AS a, b.vec_id AS b,
         {cos.format(xa="a.x", xb="b.x", na="na.nrm", nb="nb.nrm")} AS sim
  FROM el a JOIN el b ON b.i = a.i AND a.vec_id <> b.vec_id
  JOIN short sa ON sa.id = a.vec_id
  JOIN short sb ON sb.id = b.vec_id
  JOIN norms na ON na.vec_id = a.vec_id
  JOIN norms nb ON nb.vec_id = b.vec_id
  GROUP BY a.vec_id, b.vec_id, na.nrm, nb.nrm),
sel1 AS MATERIALIZED (
  SELECT id, rel, CAST(1 AS BIGINT) AS pick_order
  FROM short ORDER BY rel DESC, id LIMIT 1),
su1 AS MATERIALIZED (SELECT id FROM sel1)"""]
    for t in range(2, _MMR_K + 1):
        parts.append(f"""pen{t} AS MATERIALIZED (
  SELECT p.a AS id, MAX(p.sim) AS pen
  FROM spairs p JOIN su{t-1} s ON s.id = p.b
  GROUP BY p.a),
sel{t} AS MATERIALIZED (
  SELECT sh.id, sh.rel, CAST({t} AS BIGINT) AS pick_order
  FROM short sh JOIN pen{t} pn ON pn.id = sh.id
  WHERE sh.id NOT IN (SELECT id FROM su{t-1})
  ORDER BY (CAST(0.7 AS DOUBLE) * sh.rel
            - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * pn.pen) DESC, sh.id
  LIMIT 1),
su{t} AS MATERIALIZED (SELECT id FROM su{t-1} UNION ALL SELECT id FROM sel{t})""")
    union = " UNION ALL ".join(f"SELECT * FROM sel{t}" for t in range(1, _MMR_K + 1))
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT pick_order, CAST(id AS BIGINT) AS vec_id, rel AS relevance "
          f"FROM ({union})"
    )


@df_query("similarity_mmr_select", _mmr_oracle())
def similarity_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity-aware selection of 5 items for one query vector —
    the few-shot-example / context-dedup rerank (operators.similarity
    .mmr_select: corpus pass -> distributed top-20 shortlist ->
    shortlist-bounded greedy steps)."""
    emb = tables.load(spark, sf_dir, "embeddings")
    out = similarity.mmr_select(
        emb,
        emb.filter(F.col("vec_id") == _MMR_QID),
        k=_MMR_K,
        shortlist=_MMR_SHORT,
        lam=0.7,
    )
    return out.select(
        "pick_order", F.col("vec_id").cast("bigint").alias("vec_id"), "relevance"
    )
