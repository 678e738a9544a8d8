"""Scale/skew smoke: synthetic corpora 1-2 orders beyond the fixtures,
shaped adversarially (near-dup cliques, zero vectors, total bucket
collision), to prove the documented pair-space guards hold — candidate
sets stay bounded and keyed operators finish without quadratic blow-up.

First version of this file accidentally built ONE 6000-doc near-dup
mega-clique (every 'clique' shared 95% of its words) and the LSH pair
count exploded to 21.7M — correctly: a giant near-dup class is
inherently quadratic in the CLASS, which is exactly why real pipelines
run exact dedup and boilerplate removal BEFORE MinHash-LSH. The test
now builds genuinely distinct cliques and keeps that lesson as the
mega-clique assertion below."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafusion_server_spark.operators import dedup, quality, similarity


@pytest.fixture(scope="module")
def skewed_docs(spark):
    """20k docs: 70% unique word-soup, 30% members of ~40-doc near-dup
    cliques whose vocabulary is DERIVED from the clique id, so overlap
    across cliques is near zero while overlap within a clique is ~95%."""
    clique_words = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(20)),
            lambda j: F.concat(
                F.lit("c"),
                (F.col("id") / 150).cast("int").cast("string"),
                F.lit("w"),
                j.cast("string"),
            ),
        ),
    )
    base = spark.range(20_000).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % 10 < 3,
            # clique member: 20 clique-derived words + one noise token
            F.concat(clique_words, F.lit(" noise"), (F.col("id") % 7).cast("string")),
        ).otherwise(
            # fully id-derived vocabulary: ZERO shared shingles between
            # unique docs (a shared filler suffix gives pairwise
            # Jaccard ~0.4 and banding correctly fires on ~10% of all
            # pairs — 13M candidates at 20k docs; measured)
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(1), F.lit(14)),
                    lambda j: F.concat(
                        F.lit("u"),
                        F.col("id").cast("string"),
                        F.lit("w"),
                        j.cast("string"),
                    ),
                ),
            ),
        ).alias("text"),
    )
    return base.localCheckpoint(eager=True)


def test_lsh_pairs_bounded_under_cliques(spark, skewed_docs):
    """~134 cliques of ~45 members give ~134*45^2/2 ~ 135k true pairs;
    the 70% unique mass must contribute ~nothing. The count staying in
    that range (vs 20k^2/2 = 200M) is the banding guard working."""
    pairs = dedup.lsh_candidate_pairs(skewed_docs, "text", "doc_id")
    n_pairs = pairs.count()
    assert 0 < n_pairs < 500_000, n_pairs
    # candidates are genuinely similar — banding did not flood the set
    # with unrelated docs
    frac_low = pairs.filter(F.col("jaccard") < 0.3).count() / n_pairs
    assert frac_low < 0.05, frac_low


def test_scaled_ann_candidate_cap_holds_under_total_collision(spark):
    """Worst skew: only 50 distinct vectors among 20k (every bucket
    collides) plus an all-zero vector. The per-query candidate cap must
    bound the re-rank and zero-norm vectors must drop out instead of
    dividing by zero (ANSI mode)."""
    n, dim = 20_000, 16
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: (F.col("id") % 50 * i).cast("float"),  # id%50==0 -> zeros
        ).alias("embedding"),
    ).localCheckpoint(eager=True)
    out = similarity.scaled_lsh_ann_topk(
        emb,
        emb.filter(F.col("vec_id") < 4),
        k=3,
        dim=dim,
        n_vectors=n,
        max_candidates=32,
    )
    rows = out.collect()
    # query 0 is the zero vector -> excluded; queries 1..3 return <= k
    assert {r.query_id for r in rows} <= {1, 2, 3}
    assert all(1 <= r.rank <= 3 for r in rows)
    assert all(r.neighbor_id % 50 != 0 for r in rows)  # zero vecs never rank


def test_gopher_flags_complete_at_20k(spark, skewed_docs):
    out = quality.gopher_quality_flags(skewed_docs, "text", "doc_id")
    agg = out.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("keep").cast("int")).alias("kept")
    ).collect()[0]
    assert agg.n == 20_000


def test_duplicate_spans_bounded_under_boilerplate(spark):
    """20k docs where 30% share an identical 12-word boilerplate header
    (the worst single-gram hot-spot: one gram hash carried by 6k docs).
    The span operator must finish with exactly one maximal span per
    boilerplate doc (the 11-word header -> duplicated 8-gram starts at
    positions 1-4 -> one maximal span covering words 1-11) and NONE for
    unique docs — the count-over-gram
    window aggregates the hot gram instead of joining it (a gram-level
    self-join would be 36M pairs here; the plan is linear)."""
    body = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(20)),
            lambda j: F.concat(F.lit("b"), F.col("id").cast("string"), F.lit("x"), j.cast("string")),
        ),
    )
    header = F.lit("shared boilerplate header sentence repeated verbatim across many documents in corpus")
    docs = spark.range(20_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 3, F.concat(header, F.lit(" "), body)).otherwise(body).alias("text"),
    )
    spans = dedup.duplicate_ngram_spans(docs, "text", "doc_id", l=8)
    rows = spans.collect()
    assert len(rows) == 6_000  # one span per boilerplate doc, nothing else
    assert all(r["span_start"] == 1 and r["span_end"] == 11 for r in rows)


def test_shuffle_shards_balanced_at_50k(spark):
    """50k keys into 64 shards: max/min shard population within 25% of
    each other (uniform md5 keys — no skew hot-spot), positions dense."""
    from datafusion_server_spark.operators import sampling

    df = spark.range(50_000).select(F.col("id").alias("doc_id"))
    out = sampling.shuffle_shard_export(df, "doc_id", 64)
    sizes = [r["n"] for r in out.groupBy("shard").agg(F.count(F.lit(1)).alias("n")).collect()]
    assert len(sizes) == 64
    assert max(sizes) < min(sizes) * 1.25


def test_pagerank_bounded_on_hubby_graph_200k_edges(spark):
    """200k-edge synthetic graph with deliberate hubs (every node also
    links to one of 20 hub targets): 5 integer PageRank iterations
    finish, total mass never exceeds the unit, and the hubs dominate
    the ranking — the iteration cost is O(edges) per step, driver loops
    over iterations only."""
    from datafusion_server_spark.operators import graph

    n_nodes = 50_000
    base = spark.range(n_nodes).select(
        F.col("id").alias("src"),
        # a pseudo-random non-hub neighbor
        (F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 8), 16, 10)
         .cast("bigint") % n_nodes).alias("dst"),
    )
    hubs = spark.range(n_nodes).select(
        F.col("id").alias("src"), (F.col("id") % 20).alias("dst")
    )
    ranks = graph.pagerank(
        base.unionAll(hubs).unionAll(
            base.withColumn("dst", (F.col("dst") + 1) % n_nodes)
        ).unionAll(hubs.withColumn("dst", (F.col("dst") + 7) % 20)),
        "src", "dst",
    )
    rows = ranks.orderBy(F.desc("rank_nano"), F.asc("id")).limit(25).collect()
    total = ranks.agg(F.sum("rank_nano")).collect()[0][0]
    assert total <= graph.RANK_ONE
    top_ids = {r["id"] for r in rows[:20]}
    assert len(top_ids & set(range(27))) >= 18  # hubs (0..19 + shifted) on top


def test_zscore_window_survives_one_hot_key_100k(spark):
    """100k events on ONE key: the per-key window is inherently a
    single-partition sort — the operator must still finish promptly and
    flag exactly the planted spikes (every 10_000th value is 100x)."""
    from datafusion_server_spark.operators.timeseries import (
        rolling_zscore_anomalies,
    )

    df = spark.range(100_000).select(
        F.lit(1).alias("k"),
        F.col("id").alias("i"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
        F.when(F.col("id") % 10_000 == 9_999, 500.0)
        .otherwise((F.col("id") % 7).cast("double"))
        .alias("v"),
    )
    got = rolling_zscore_anomalies(df, "k", "ts", "i", "v").collect()
    spikes = {r["i"] for r in got if r["value"] == 500.0}
    assert spikes == {9_999 + 10_000 * j for j in range(10)}


def test_dsir_model_stays_bucket_bounded_at_50k(spark):
    """50k docs: the DSIR model table is O(n_buckets) regardless of
    corpus size, and the scoring pass covers every document."""
    from datafusion_server_spark.operators.sampling import dsir_importance

    docs = spark.range(50_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 == 0, F.lit("alpha beta gamma alpha"))
        .otherwise(F.lit("omega psi chi phi"))
        .alias("text"),
        (F.col("id") % 10 == 0).alias("is_t"),
    )
    scored = dsir_importance(docs, "text", "doc_id", "is_t", n_buckets=128)
    assert scored.count() == 50_000
    # target-vocab docs all outrank background docs
    worst_target = scored.filter(F.col("id") % 10 == 0).agg(
        F.min("logw")
    ).collect()[0][0]
    best_other = scored.filter(F.col("id") % 10 != 0).agg(
        F.max("logw")
    ).collect()[0][0]
    assert worst_target > best_other


def test_curriculum_bands_balanced_under_skew_200k(spark):
    """200k rows with a heavily skewed score distribution (90% of mass
    in the lowest decile of the range): the banding is range-uniform by
    design, so the interleave still yields a unique global position per
    row and the per-band window never sees more than the band's own
    rows (no global sort anywhere in the plan)."""
    from datafusion_server_spark.operators.sampling import curriculum_order

    df = spark.range(200_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 9, F.col("id") % 100)
        .otherwise(F.col("id") % 1000)
        .cast("bigint")
        .alias("score"),
    )
    out = curriculum_order(df, "doc_id", "score", 10)
    assert out.count() == 200_000
    assert out.select("training_position").distinct().count() == 200_000
    # no global single-partition window: the executed plan's window is
    # partitioned by stratum
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "partitionBy=[stratum" in plan or "stratum" in plan


def test_snapshot_diff_hash_projection_before_join_200k(spark):
    """200k-doc release diff: the plan must project md5 hashes BEFORE
    the full-outer exchange (texts never shuffle), and the status
    counts must recover the planted change structure exactly."""
    from datafusion_server_spark.operators.profiling import corpus_snapshot_diff

    old = spark.range(200_000).select(
        F.col("id"), F.concat(F.lit("body "), F.col("id").cast("string")).alias("text")
    )
    new = spark.range(200_000).filter(F.col("id") % 4 != 0).select(
        "id",
        F.when(F.col("id") % 4 == 1, F.concat(F.lit("edited "), F.col("id").cast("string")))
        .otherwise(F.concat(F.lit("body "), F.col("id").cast("string")))
        .alias("text"),
    )
    diff = corpus_snapshot_diff(old, new, "id", "text")
    got = {r["status"]: r["n"] for r in
           diff.groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == {"removed": 50_000, "changed": 50_000, "unchanged": 100_000}
