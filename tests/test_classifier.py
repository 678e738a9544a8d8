"""Logistic-regression classifier (operators.classifier) properties."""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_server_spark import tables
from datafusion_server_spark.operators import classifier

DIM = 256
PROBE = "vector"


def _setup(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents")
    feats = classifier.hashed_features(docs, "text", "doc_id", DIM)
    labels = docs.select(
        F.col("doc_id").alias("id"),
        F.when(
            F.array_contains(F.split(F.col("text"), " "), PROBE), 1.0
        ).otherwise(0.0).alias("y"),
    )
    return docs, feats, labels


def test_training_beats_majority_baseline(spark, sf_dir):
    """Gradient descent must DISCOVER the probe token's hash bucket:
    accuracy strictly above always-predict-majority (measured 0.99+ at
    both smoke SFs with lr=5, 20 iters)."""
    _, feats, labels = _setup(spark, sf_dir)
    w = classifier.train_logreg(feats, labels, DIM, iters=20, lr=5.0)
    scored = classifier.predict(feats, w).join(labels, "id")
    n = scored.count()
    correct = scored.filter(F.col("pred").cast("double") == F.col("y")).count()
    majority = scored.groupBy("y").count().agg(F.max("count")).first()[0]
    assert correct / n > majority / n + 0.05, (correct, majority, n)


def test_training_loss_decreases(spark, sf_dir):
    """Training must reduce full-batch log-loss end-to-end (a large
    fixed step is NOT per-iteration monotone — only the trained-vs-
    untrained comparison is guaranteed-stable to assert)."""
    _, feats, labels = _setup(spark, sf_dir)

    def loss(iters):
        w = classifier.train_logreg(feats, labels, DIM, iters=iters, lr=5.0)
        s = classifier.predict(feats, w).join(labels, "id")
        eps = 1e-9
        return s.select(
            F.avg(
                -(
                    F.col("y") * F.log(F.col("p") + eps)
                    + (1 - F.col("y")) * F.log(1 - F.col("p") + eps)
                )
            ).alias("l")
        ).first().l

    assert loss(20) < loss(0)


def test_training_partition_independent(spark, sf_dir):
    docs, feats, labels = _setup(spark, sf_dir)
    w1 = {r.bucket: r.w for r in classifier.train_logreg(feats, labels, DIM, 2, 5.0).collect()}
    feats7 = classifier.hashed_features(docs.repartition(7), "text", "doc_id", DIM)
    w2 = {r.bucket: r.w for r in classifier.train_logreg(feats7, labels, DIM, 2, 5.0).collect()}
    assert w1 == w2


def test_naive_bayes_beats_majority(spark, sf_dir):
    """NB on the probe task must beat predict-majority (measured 0.95+
    — 'vector' and its hash-mates dominate P(t|c=1))."""
    docs, _, labels = _setup(spark, sf_dir)
    scored = classifier.naive_bayes_scores(docs, "text", "doc_id", labels).join(
        labels, "id"
    )
    n = scored.count()
    correct = scored.filter(F.col("pred").cast("double") == F.col("y")).count()
    majority = scored.groupBy("y").count().agg(F.max("count")).first()[0]
    assert correct / n > majority / n + 0.05, (correct, majority, n)


def test_auc_midrank_tie_convention_exact(spark):
    """Hand-computed tie-aware Mann-Whitney: scores [1,1,2,3] with
    labels [0,1,0,1] -> pairs: pos@1 vs neg@1 ties (0.5), pos@1 vs
    neg@2 loses (0), pos@3 beats both negs (2) => U = 2.5, AUC = 2.5/4.
    Built through the same margin-binned cumulative form the query
    uses."""
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(1.0, 0), (1.0, 1), (2.0, 0), (3.0, 1)], "m double, y int"
    )
    per = df.groupBy("m").agg(
        F.sum((F.col("y") == 1).cast("bigint")).alias("n_pos"),
        F.sum((F.col("y") == 0).cast("bigint")).alias("n_neg"),
    )
    w = Window.orderBy(F.asc("m")).rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        "n_pos", "n_neg",
        (F.sum("n_neg").over(w) - F.col("n_neg")).alias("neg_below"),
    )
    row = cum.agg(
        (
            F.sum(F.col("n_pos") * (2 * F.col("neg_below") + F.col("n_neg"))).cast("double")
            / (2 * F.sum("n_pos") * F.sum("n_neg")).cast("double")
        ).alias("auc")
    ).collect()[0]
    assert row["auc"] == 2.5 / 4.0


def test_auc_degrades_with_label_noise(spark, sf_dir):
    """Flipping 30% of labels AFTER training on clean labels must land
    the measured ranking quality strictly between coin-flip and
    perfect — the discriminative signal survives but the ceiling is
    gone. (The clean-label AUC on the fixture is 1.0.)"""
    from datafusion_server_spark import tables
    from datafusion_server_spark.operators import classifier as C

    docs = tables.load(spark, sf_dir, "documents")
    clean = docs.select(
        F.col("doc_id").alias("id"),
        F.when(F.array_contains(F.split(F.col("text"), " "), "vector"), 1.0)
        .otherwise(0.0).alias("y"),
    )
    noisy = clean.select(
        "id",
        F.when(F.col("id") % 10 < 3, 1.0 - F.col("y")).otherwise(F.col("y")).alias("y"),
    )
    scored = C.naive_bayes_scores(docs, "text", "doc_id", clean).join(noisy, "id")
    per = scored.groupBy((F.col("score1") - F.col("score0")).alias("m")).agg(
        F.sum((F.col("y") == 1.0).cast("bigint")).alias("n_pos"),
        F.sum((F.col("y") == 0.0).cast("bigint")).alias("n_neg"),
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.asc("m")).rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        "n_pos", "n_neg",
        (F.sum("n_neg").over(w) - F.col("n_neg")).alias("neg_below"),
    )
    auc = cum.agg(
        (
            F.sum(F.col("n_pos") * (2 * F.col("neg_below") + F.col("n_neg"))).cast("double")
            / (2 * F.sum("n_pos") * F.sum("n_neg")).cast("double")
        ).alias("auc")
    ).collect()[0]["auc"]
    assert 0.55 < auc < 0.95


def test_weak_label_vote_edges(spark):
    """r8: all-abstain docs stay 'abstain' with zeroed stats; a rule
    with no decided coverage drops out of the weighted pass; the
    weighted vote can flip an unweighted tie."""
    from datafusion_server_spark.operators.classifier import weak_label_vote

    df = spark.createDataFrame(
        [(1, "a b"), (2, "a c"), (3, "zz"), (4, "b c")],
        "doc_id long, text string",
    )

    def vote(word: str, v: int) -> str:
        return f"CASE WHEN ARRAY_CONTAINS(SPLIT(text, ' '), '{word}') THEN {v} ELSE 0 END"

    rules = [
        ("pos_a", vote("a", 1)),
        ("neg_b", vote("b", -1)),
        ("pos_c", vote("c", 1)),
        # never fires at all -> absent from every table
        ("never", "0"),
    ]
    out = {r["id"]: r for r in weak_label_vote(df, "doc_id", rules).collect()}
    assert len(out) == 4
    # doc 3: no rule fires
    assert out[3]["n_votes"] == 0 and out[3]["final_label"] == "abstain"
    # doc 2: a(+1), c(+1) -> clear pos
    assert out[2]["label0"] == 1 and out[2]["final_label"] == "pos"
    # doc 1 (a+1, b-1) and doc 4 (b-1, c+1) are unweighted ties ->
    # label0 = 0; their fate rests on agreement weights, which are
    # computed only over decided docs (doc 2): pos_a and pos_c agree
    # (w=1e6), neg_b has no decided coverage -> drops out -> both
    # tied docs resolve POS via the surviving positive rule
    assert out[1]["label0"] == 0 and out[1]["final_label"] == "pos"
    assert out[4]["label0"] == 0 and out[4]["final_label"] == "pos"
