"""k-means / SemDeDup (operators.clustering) beyond-oracle properties."""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_server_spark import tables
from datafusion_server_spark.operators import clustering


def test_kmeans_assigns_every_vector_once(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    n = emb.count()
    assigned, cents = clustering.kmeans(emb, k=8, iters=2)
    rows = assigned.collect()
    assert len(rows) == n
    assert len({r.id for r in rows}) == n
    assert {r.cluster for r in rows} <= set(range(8))
    # centroid table always holds exactly k rows (empty clusters keep
    # their previous centroid rather than vanishing)
    assert cents.count() == 8


def test_kmeans_partition_independent(spark, sf_dir):
    """Same assignment regardless of input partitioning — the exact-sum
    + rounded-mean contract."""
    emb = tables.load(spark, sf_dir, "embeddings")
    a1 = {
        (r.id, r.cluster)
        for r in clustering.kmeans(emb, k=8, iters=2)[0].collect()
    }
    a2 = {
        (r.id, r.cluster)
        for r in clustering.kmeans(emb.repartition(7), k=8, iters=2)[0].collect()
    }
    assert a1 == a2


def test_kmeans_improves_over_init(spark, sf_dir):
    """Lloyd iterations must not increase total within-cluster scatter:
    compare exact scaled-long d2 totals after 0 vs 3 iterations."""
    emb = tables.load(spark, sf_dir, "embeddings")

    def total_d2(iters: int) -> int:
        if iters == 0:
            cent = clustering.kmeans_init(emb, 8, "embedding", "vec_id")
        else:
            _, cent = clustering.kmeans(emb, 8, iters=iters)
        assigned = clustering.assign_clusters(emb, cent, "embedding", "vec_id")
        cents_row = clustering._centroid_row(cent)
        joined = assigned.crossJoin(F.broadcast(cents_row))
        d2 = F.expr(
            "AGGREGATE(FILTER(cents, ct -> ct.cluster = cluster), CAST(0 AS BIGINT), "
            f"(tot, ct) -> tot + {clustering._d2_scaled_sql('v', 'ct.c')})"
        )
        return joined.select(F.sum(d2).alias("t")).first().t

    assert total_d2(3) <= total_d2(0)


def test_semdedup_pairs_respect_cluster_and_threshold(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    pairs = clustering.semdedup_pairs(emb, k=8, threshold=0.3, iters=2)
    assigned, _ = clustering.kmeans(emb, k=8, iters=2)
    amap = {r.id: r.cluster for r in assigned.collect()}
    for r in pairs.collect():
        assert r.keep_id < r.drop_id
        assert r.cosine >= 0.3
        assert amap[r.keep_id] == r.cluster and amap[r.drop_id] == r.cluster


def test_assignment_plan_is_shuffle_free(spark, sf_dir):
    """Nearest-centroid assignment must stay a narrow map over the
    broadcast centroid row — a shuffle in the assignment subplan (beyond
    the centroid build itself) is a scale regression. The centroid input
    here is a checkpointed table, so the plan below it is just the scan
    + broadcast."""
    from datafusion_server_spark.operators.scale import plan_has_shuffle

    emb = tables.load(spark, sf_dir, "embeddings")
    cent = clustering.kmeans_init(emb, 4, "embedding", "vec_id").localCheckpoint()
    assigned = clustering.assign_clusters(emb, cent, "embedding", "vec_id")
    assert not plan_has_shuffle(assigned)


def test_kmeans_update_shuffle_output_is_k_by_dim_bounded(spark, sf_dir):
    """The per-iteration aggregation keys on (cluster, dimension): its
    result cardinality is k x dim regardless of corpus size (the
    property that makes the iteration scale)."""
    from datafusion_server_spark.operators import quantize

    emb = tables.load(spark, sf_dir, "embeddings")
    book = quantize.pq_train(emb, m=8, n_centroids=4, iters=1)
    rows = book.collect()
    assert len(rows) == 8 * 4
    assert all(len(r.c) == 8 for r in rows)  # dim/m = 64/8
