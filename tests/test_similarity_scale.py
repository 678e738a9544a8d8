"""Scale parameterization of the banded LSH ANN: plane count grows with
corpus size, per-band bucket populations stay bounded, candidate work is
capped per query."""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_server_spark import tables
from datafusion_server_spark.operators import similarity


def test_band_bits_scale_with_corpus():
    bb = similarity.lsh_band_bits
    assert bb(2_000, 128) == 4
    assert bb(100_000, 128) == 10
    assert bb(1_000_000_000, 128) == 23
    assert bb(10, 128) == 2  # clamped low
    assert bb(10**12, 128, max_bits=24) == 24  # clamped high
    # monotone: bigger corpus never gets fewer bits
    sizes = [10**e for e in range(2, 12)]
    bits = [bb(n, 128) for n in sizes]
    assert bits == sorted(bits)


def test_bucket_population_bounded(spark, sf_dir):
    """With band_bits derived from n, the per-band bucket population is
    bounded near target_bucket_size — the property that keeps the
    same-bucket join linear in corpus size."""
    emb = tables.load(spark, sf_dir, "embeddings")
    n = emb.count()
    target = 64
    band_bits = similarity.lsh_band_bits(n, target)
    bands = 4
    codes = similarity.bucket_codes(emb, bands * band_bits, 64)
    sizes = [
        r["c"]
        for b in range(bands)
        for r in codes.groupBy(
            F.substring("bucket", b * band_bits + 1, band_bits).alias("code")
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    ]
    assert max(sizes) <= 8 * target, f"max bucket {max(sizes)} vs target {target}"
    assert sum(sizes) / len(sizes) <= 3 * target


def test_scaled_ann_deterministic_and_capped(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out1 = similarity.scaled_lsh_ann_topk(
        emb, queries, k=3, dim=64, bands=4, band_bits=4, max_candidates=16
    ).collect()
    out2 = similarity.scaled_lsh_ann_topk(
        emb, queries, k=3, dim=64, bands=4, band_bits=4, max_candidates=16
    ).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    per_query = {}
    for r in out1:
        per_query.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in per_query.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 3
    # derived-band_bits path (n from count) runs and returns ranked rows
    auto = similarity.scaled_lsh_ann_topk(emb, queries, k=3, dim=64).collect()
    assert all(r["rank"] <= 3 for r in auto)


def test_ivf_sqrt_codebook_and_multiprobe(spark, sf_dir):
    assert similarity.ivf_n_centroids(1_000_000) == 1000
    assert similarity.ivf_n_centroids(100) == 16  # floor
    emb = tables.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    one = similarity.ivf_topk(emb, queries, k=3, n_centroids=8, nprobe=1).collect()
    two = similarity.ivf_topk(emb, queries, k=3, n_centroids=8, nprobe=2).collect()

    def best(rows):
        out = {}
        for r in rows:
            out.setdefault(r["query_id"], []).append(r["cosine"])
        return {q: sorted(v, reverse=True) for q, v in out.items()}

    b1, b2 = best(one), best(two)
    # nprobe=2 searches a superset of candidates: element-wise no worse
    for q, v1 in b1.items():
        v2 = b2.get(q, [])
        for i, c in enumerate(v1):
            assert i < len(v2) and v2[i] >= c - 1e-9
    # sqrt-n derivation path runs
    auto = similarity.ivf_topk(emb, queries, k=3, n_centroids=None).collect()
    assert all(r["rank"] <= 3 for r in auto)


def test_lsh_ann_default_is_scaled_variant(spark, sf_dir):
    """planes=None (the default) must produce exactly the scaled banded
    multi-probe result — the fixed-plane form is opt-in only."""
    emb = tables.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    default = similarity.lsh_ann_topk(emb, queries, k=3, materialize=False).collect()
    scaled = similarity.scaled_lsh_ann_topk(
        emb, queries, 3, 64, materialize=False
    ).collect()
    assert sorted(map(tuple, default)) == sorted(map(tuple, scaled))


def test_default_paths_trigger_no_driver_side_jobs(spark, sf_dir):
    """Building the default-parameter ANN plans must not run ANY Spark
    job: band_bits derives from Catalyst plan stats (estimate_row_count)
    and the IVF sqrt(n) codebook derives from a plan-embedded broadcast
    aggregate — the round-2 ``df.count()`` fallbacks are gone."""
    emb = tables.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    sc = spark.sparkContext
    sc.setJobGroup("nojob-probe", "plan-build only")
    try:
        similarity.scaled_lsh_ann_topk(emb, queries, k=3, dim=64, materialize=False)
        similarity.ivf_topk(
            emb, queries, k=3, n_centroids=None, materialize=False
        )
        jobs = sc.statusTracker().getJobIdsForGroup("nojob-probe")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(jobs) == [], f"plan build triggered jobs: {jobs}"


def test_estimate_row_count_log2_accuracy(spark, sf_dir):
    """The job-free estimate must land within one band-bit (2x) of the
    true row count — the accuracy contract band sizing relies on."""
    import math

    emb = tables.load(spark, sf_dir, "embeddings")
    true_n = emb.count()
    est = similarity.estimate_row_count(emb, bytes_per_row=4 * 64)
    assert abs(math.log2(est) - math.log2(true_n)) <= 1.0, (est, true_n)


def test_estimate_row_count_survives_internal_api_loss(spark, sf_dir, monkeypatch):
    """``_jdf.queryExecution`` is py4j access to Spark internals; when a
    Spark upgrade moves it, estimate_row_count must degrade to the
    input-file-size heuristic (and ANN defaults keep working), not
    raise."""
    import math

    emb = tables.load(spark, sf_dir, "embeddings")
    true_n = emb.count()

    def gone(df, bytes_per_row):
        raise AttributeError("queryExecution")  # simulated API removal

    monkeypatch.setattr(similarity, "_catalyst_row_estimate", gone)
    est = similarity.estimate_row_count(emb, bytes_per_row=4 * 64)
    # file-size heuristic: parquet compresses, so allow a wide (4x) band —
    # band_bits consumes this at log2 granularity
    assert abs(math.log2(est) - math.log2(true_n)) <= 2.0, (est, true_n)
    # the full default ANN path (band_bits from the estimate) still runs
    queries = emb.filter(F.col("vec_id") < 3)
    out = similarity.scaled_lsh_ann_topk(emb, queries, k=3, materialize=False)
    assert out.count() > 0

    # and when even inputFiles is gone, the constant fallback holds
    class NoFiles:
        def inputFiles(self):
            raise RuntimeError("gone too")

    assert similarity.estimate_row_count(NoFiles(), bytes_per_row=256) == 1 << 17


def test_ann_recall_measured_against_brute_force(spark, sf_dir):
    """Recall@5 vs the exact brute-force top-k, measured not assumed.

    On the UNIFORM synthetic fixture vectors (no cluster structure —
    pairwise cosines concentrate near 0) sign-LSH candidates are only
    weakly better than random, so its recall floor here is low; this is
    a property of the data, not the operator (real embedding corpora
    are strongly clustered). IVF partitions by actual geometry and
    reaches high recall even on uniform data. Asserted floors:
    IVF >= 0.8; scaled-LSH >= 1.5x the random-candidate baseline
    (max_candidates/n)."""
    from pyspark.sql import functions as F

    from datafusion_server_spark import tables
    from datafusion_server_spark.operators import similarity

    emb = tables.load(spark, sf_dir, "embeddings")
    n = emb.count()
    q = emb.filter(F.col("vec_id") < 10)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb, q, k=5).collect()
    }
    lsh = {
        (r.query_id, r.neighbor_id)
        for r in similarity.scaled_lsh_ann_topk(emb, q, k=5, dim=64).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(emb, q, k=5, n_centroids=16, nprobe=2).collect()
    }
    ivf_recall = len(truth & ivf) / len(truth)
    lsh_recall = len(truth & lsh) / len(truth)
    random_baseline = 64 / n  # default candidate cap / corpus size
    assert ivf_recall >= 0.8, ivf_recall
    assert lsh_recall >= 1.5 * random_baseline, (lsh_recall, random_baseline)


def test_mmr_string_ids_containing_separator(spark):
    """Ids that contain ':' must not collide in the pairwise-sim map:
    ("a:b", "c") and ("a", "b:c") are different pairs. The picks equal
    those for the same vectors under colon-free ids."""
    vecs = [
        ("a:b", [1.0, 0.1, 0.0]),
        ("c", [0.9, 0.3, 0.1]),
        ("a", [0.2, 1.0, 0.0]),
        ("b:c", [0.7, 0.0, 0.6]),
        ("q", [1.0, 0.5, 0.2]),
    ]

    def picks(rename):
        emb = spark.createDataFrame(
            [(rename(i), v) for i, v in vecs], "vec_id string, embedding array<double>"
        )
        out = similarity.mmr_select(emb, emb.filter(F.col("vec_id") == "q"), k=4)
        return [(r.pick_order, r.vec_id, r.relevance) for r in out.orderBy("pick_order").collect()]

    got = picks(lambda i: i)
    assert len(got) == 4
    assert got == [(o, i.replace("_", ":"), rel) for o, i, rel in picks(lambda i: i.replace(":", "_"))]
