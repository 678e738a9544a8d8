"""Scalar quantization (operators.quantize) beyond-oracle properties:
code-range/decode-error bounds, frozen-profile encoding, SQ+refine
recall vs brute force, and temperature-mix sampling semantics."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import functions as F

from datafusion_server_spark import tables
from datafusion_server_spark.operators import quantize, sampling, similarity


def test_codes_in_range_and_decode_error_bounded(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    profile = quantize.dim_profile(emb, "embedding", "vec_id")
    codes = quantize.scalar_quantize(
        emb, "embedding", "vec_id", bits=8, profile=profile
    )
    rng = codes.select(
        F.min(F.array_min("codes")).alias("lo"),
        F.max(F.array_max("codes")).alias("hi"),
    ).first()
    assert 0 <= rng.lo and rng.hi <= 255

    # reconstruction error per element <= half a grid step (+ the 1e-6
    # rounding of xhat): |x - xhat| <= (mx - mn) / 256 / 2 + 1e-6
    recon = codes.crossJoin(F.broadcast(profile)).select(
        "id",
        quantize._reconstruct(F.col("codes"), F.col("mns"), F.col("mxs"), 8).alias(
            "xh"
        ),
        F.col("mns"),
        F.col("mxs"),
    )
    orig = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("x"))
    worst = (
        recon.join(orig, "id")
        .select(
            F.max(
                F.array_max(
                    F.zip_with(
                        F.zip_with(
                            F.col("x").cast("array<double>"),
                            F.col("xh"),
                            lambda a, b: F.abs(a - b),
                        ),
                        F.zip_with(
                            F.col("mxs"), F.col("mns"), lambda mx, mn: (mx - mn) / 512.0
                        ),
                        lambda err, half: err - half,
                    )
                )
            ).alias("worst_excess")
        )
        .first()
        .worst_excess
    )
    assert worst <= 1e-6, worst


def test_frozen_profile_encodes_new_rows_identically(spark, sf_dir):
    """Encoding a shard against the corpus profile (the incremental-index
    path) must equal encoding it as part of the corpus pass."""
    emb = tables.load(spark, sf_dir, "embeddings")
    profile = quantize.dim_profile(emb, "embedding", "vec_id")
    full = quantize.scalar_quantize(
        emb, "embedding", "vec_id", profile=profile
    ).filter(F.col("id") < 20)
    shard = quantize.scalar_quantize(
        emb.filter(F.col("vec_id") < 20), "embedding", "vec_id", profile=profile
    )
    assert full.exceptAll(shard).count() == 0
    assert shard.exceptAll(full).count() == 0


def test_sq8_refine_recall_near_exact(spark, sf_dir):
    """int8 + refine should be near-lossless: the ADC candidate set of
    4k only misses a true neighbor when quantization noise reorders past
    rank 4k — assert recall@5 >= 0.9 (measured 1.0 on the fixture)."""
    emb = tables.load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb, q, k=5).collect()
    }
    sq = {
        (r.query_id, r.neighbor_id)
        for r in quantize.quantized_topk(emb, q, k=5, rerank_factor=4).collect()
    }
    assert len(truth & sq) / len(truth) >= 0.9


def test_temperature_mix_upweights_small_domains(spark, sf_dir):
    """alpha<1 must raise small domains' keep-rate relative to large
    ones: output share ratio (small/large) > input share ratio."""
    docs = tables.load(spark, sf_dir, "documents")
    n_in = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    kept = sampling.temperature_mix_sample(docs, "doc_id", "lang", 0.5, 120)
    n_out = {
        r.lang: r.n for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    langs = sorted(n_in, key=n_in.get)
    small, large = langs[0], langs[-1]
    assert n_in[small] < n_in[large]
    in_ratio = n_in[small] / n_in[large]
    out_ratio = n_out.get(small, 0) / max(n_out.get(large, 1), 1)
    assert out_ratio > in_ratio, (in_ratio, out_ratio, n_in, n_out)


def test_temperature_alpha_one_matches_natural_rates(spark, sf_dir):
    """alpha=1 degenerates to uniform keep-rate total_out/N across all
    domains (shares proportional to size cancel the 1/n_d)."""
    docs = tables.load(spark, sf_dir, "documents")
    total = docs.count()
    kept = sampling.temperature_mix_sample(
        docs, "doc_id", "lang", 1.0, total * 10
    )  # budget > corpus => every rate caps at 1.0: all rows kept
    assert kept.count() == total


def test_pq_refine_recall_floor(spark, sf_dir):
    """PQ(8x16)+refine recall@5 vs brute force. On the uniform fixture
    PQ reconstruction noise is high (no cluster structure for the
    codebooks to exploit), so the floor is modest; the refine stage
    keeps returned scores exact regardless."""
    emb = tables.load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb, q, k=5).collect()
    }
    pq = {
        (r.query_id, r.neighbor_id)
        for r in quantize.pq_topk(
            emb, q, k=5, m=8, n_centroids=16, iters=2, rerank_factor=4
        ).collect()
    }
    n = emb.count()
    random_baseline = 20 / n  # rerank_factor*k candidates at random
    recall = len(truth & pq) / len(truth)
    assert recall >= 2 * random_baseline, (recall, random_baseline)


def test_pq_train_partition_independent(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    b1 = {
        (r.subspace, r.cluster, tuple(r.c))
        for r in quantize.pq_train(emb, m=8, n_centroids=8, iters=1).collect()
    }
    b2 = {
        (r.subspace, r.cluster, tuple(r.c))
        for r in quantize.pq_train(
            emb.repartition(5), m=8, n_centroids=8, iters=1
        ).collect()
    }
    assert b1 == b2


def test_pq_train_rejects_bad_subspace_split(spark, sf_dir):
    import pytest

    emb = tables.load(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="not divisible"):
        quantize.pq_train(emb, m=7, n_centroids=8, iters=1, dim=64)


def test_pq_frozen_codebook_reusable_for_new_shards(spark, sf_dir):
    """The trained codebook encodes a later shard identically to the
    corpus pass — the incremental-index path (train once, encode daily
    batches against the frozen books)."""
    emb = tables.load(spark, sf_dir, "embeddings")
    book = quantize.pq_train(emb, m=8, n_centroids=8, iters=1)
    row = quantize._pq_codebook_row(book)
    sub = quantize._subspace_view(emb, "embedding", "vec_id", 8, 8)

    def encode(view):
        cents = "ELEMENT_AT(books, subspace + 1)"
        return view.crossJoin(F.broadcast(row)).selectExpr(
            "id",
            "subspace",
            "sub",
            f"{cents} AS cents",
            f"{quantize._pq_argmin_sql('sub', cents)} AS cluster",
        )

    full_rows = [r for r in encode(sub).collect() if r.id < 20]
    full = {(r.id, r.subspace, r.cluster) for r in full_rows}
    shard = {
        (r.id, r.subspace, r.cluster)
        for r in encode(sub.filter(F.col("id") < 20)).collect()
    }
    assert full == shard

    # nearest centroid by exact scaled-long d2 (Spark rounds a double
    # through its decimal repr, half up), ties to the lower index
    def d2(v, c):
        return sum(
            int(Decimal(repr((x - y) * (x - y) * 1e12)).quantize(Decimal(1), ROUND_HALF_UP))
            for x, y in zip(v, c)
        )

    for r in full_rows:
        best = min(r.cents, key=lambda ct: (d2(r.sub, ct.c), ct.cluster))
        assert r.cluster == best.cluster


def test_bigram_lm_detects_shuffled_word_order(spark):
    """Same bag of words, different order: the unigram model scores the
    shuffled doc identically to the natural ones (order-blind), the
    interpolated bigram model scores it strictly higher — the signal
    bigram context adds."""
    from datafusion_server_spark.operators import text as text_ops

    natural = "the cat sat on the mat"
    shuffled = "mat the on sat cat the"  # same multiset of words
    rows = [(i, natural) for i in range(10)] + [(99, shuffled)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    uni = {r.id: r.xent_nats for r in text_ops.lm_unigram_cross_entropy(
        df, "text", "doc_id").collect()}
    assert uni[99] == uni[0]

    bi = {r.id: r.xent_nats for r in text_ops.lm_bigram_cross_entropy(
        df, "text", "doc_id").collect()}
    assert bi[99] > bi[0], (bi[99], bi[0])


def test_persisted_sq8_index_roundtrip_search(spark, sf_dir, tmp_path):
    """The daily-ingest index flow end-to-end: persist the SQ8 profile +
    code table with the sharded writer, reload BOTH from parquet, encode
    a 'new batch' against the frozen profile, and verify search results
    from the persisted index equal the all-in-memory pipeline."""
    from datafusion_server_spark.sources import writers

    emb = tables.load(spark, sf_dir, "embeddings")
    profile = quantize.dim_profile(emb, "embedding", "vec_id")
    codes = quantize.scalar_quantize(emb, "embedding", "vec_id", profile=profile)

    pdir, cdir = str(tmp_path / "profile"), str(tmp_path / "codes")
    writers.write_dataset(profile, pdir)
    writers.write_dataset(codes, cdir)

    profile2 = spark.read.parquet(pdir)
    codes2 = spark.read.parquet(cdir)
    # frozen-profile encode of a new shard matches the persisted codes
    shard = quantize.scalar_quantize(
        emb.filter(F.col("vec_id") >= 480), "embedding", "vec_id", profile=profile2
    )
    persisted_shard = codes2.filter(F.col("id") >= 480)
    assert shard.exceptAll(persisted_shard).count() == 0
    assert persisted_shard.exceptAll(shard).count() == 0
    # and the reloaded profile reproduces the in-memory profile exactly
    a = profile.first()
    b = profile2.first()
    assert list(a.mns) == list(b.mns) and list(a.mxs) == list(b.mxs)
