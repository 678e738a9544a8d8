"""Distributed BPE merge training over a document corpus.

Beyond-reference operator: learn byte-pair-encoding merges (Sennrich et
al. 2016) with DataFrame ops only — the tokenizer-training step of an
LLM data pipeline, here character-level within whitespace words.

The scale insight is the classic one: train on the frequency-WEIGHTED
VOCABULARY, not the token stream. One corpus pass builds (word, count);
every Lloyd-style merge iteration after that touches only the
vocab-sized table — pair counting, best-pair selection, and merge
application all run on |vocab| rows regardless of corpus size. At
100 TB the vocab is millions of rows (still cluster-scale, still tiny
vs the corpus), and the final token counts come from ONE broadcast join
of the corpus word stream against the trained vocab segmentation.

Per iteration:
- pair counts: in-row zip of each word's symbol array with its tail,
  exploded, summed with the word count as weight (map-side combined,
  output bounded by the live pair alphabet);
- best pair: total order (freq DESC, left ASC, right ASC) -> ONE row,
  broadcast back into the plan (never collected); a sentinel row with
  freq=-1 keeps the pipeline total when pairs are exhausted — the
  sentinel's empty `left` can never match a symbol, so application
  becomes a no-op and exhausted ranks are filtered from the output;
- merge application: a left-to-right non-overlapping fold over each
  symbol array (aggregate with array accumulator) — replaces every
  (left, right) adjacency exactly as sequential BPE does;
- the vocab localCheckpoints per iteration (vocab-sized, not
  corpus-sized) to stop N-deep lineage nesting.

Determinism: integer counts and binary string ordering only — no float
math anywhere — so a sequential Python replay reproduces the merge
table and every segmentation exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datafusion_server_spark.operators.scale import (
    ensure_fanout_parallelism,
    sql_str_literal,
)


def _apply_merge_sql(syms: str, left: str, right: str) -> str:
    """Left-to-right non-overlapping replacement of each (left, right)
    adjacency with the concatenated symbol, as SQL text (r14 chatter
    cut: the Column fold cost ~80 py4j round-trips per embedded copy —
    once per merge rank). ``GET`` (0-based, null out-of-bounds) keeps
    the fold ANSI-safe on the empty accumulator."""
    return (
        f"AGGREGATE({syms}, CAST(ARRAY() AS ARRAY<STRING>), "
        f"(acc, s) -> CASE WHEN SIZE(acc) > 0 "
        f"AND GET(acc, SIZE(acc) - 1) = {left} AND s = {right} "
        f"THEN CONCAT(SLICE(acc, 1, SIZE(acc) - 1), "
        f"ARRAY(CONCAT({left}, {right}))) "
        f"ELSE CONCAT(acc, ARRAY(s)) END)"
    )


def word_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """(word, wc, syms): frequency-weighted vocabulary with character
    symbol arrays — the one corpus pass."""
    words = ensure_fanout_parallelism(
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
    ).filter(F.col("word") != "")
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wc"))
        .select("word", "wc", F.split(F.col("word"), "").alias("syms"))
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    pairs = vocab.where("SIZE(syms) >= 2").selectExpr(
        "wc",
        "EXPLODE(ZIP_WITH(SLICE(syms, 1, SIZE(syms) - 1), "
        "SLICE(syms, 2, SIZE(syms) - 1), "
        "(a, b) -> STRUCT(a AS left, b AS right))) AS p",
    )
    return pairs.groupBy(
        F.expr("p.`left`").alias("left"), F.expr("p.`right`").alias("right")
    ).agg(F.expr("CAST(SUM(wc) AS BIGINT) AS freq"))


def bpe_train(
    df: DataFrame, text_col: str, n_merges: int
) -> tuple[DataFrame, DataFrame]:
    """Learn ``n_merges`` BPE merges. Returns (vocab, merges):
    vocab (word, wc, syms) holds the final segmentation of every corpus
    word; merges (rank, left, right, freq) the learned table in merge
    order (exhausted ranks omitted)."""
    spark = df.sparkSession
    vocab = word_vocab(df, text_col).localCheckpoint()
    sentinel = spark.createDataFrame(
        [("", "", -1)], "left string, right string, freq long"
    )
    merge_rows = []
    for rank in range(n_merges):
        best = (
            _pair_counts(vocab)
            .unionByName(sentinel)
            .orderBy(F.desc("freq"), F.asc("left"), F.asc("right"))
            .limit(1)
            .localCheckpoint()
        )
        merge_rows.append(best.withColumn("rank", F.lit(rank).cast("bigint")))
        vocab = (
            vocab.crossJoin(F.broadcast(best))
            .selectExpr(
                "word",
                "wc",
                _apply_merge_sql("syms", "`left`", "`right`") + " AS syms",
            )
            .localCheckpoint()
        )
    merges = merge_rows[0]
    for m in merge_rows[1:]:
        merges = merges.unionByName(m)
    return vocab, merges.filter(F.col("freq") > 0).select(
        "rank", "left", "right", "freq"
    )


def bpe_token_counts(
    df: DataFrame, text_col: str, id_col: str, vocab: DataFrame
) -> DataFrame:
    """(id, n_words, n_bpe_tokens): tokenize by ONE broadcast join of
    the corpus word stream against the trained vocab's segmentation —
    applying N merges per word again would be N folds; the vocab already
    holds the result. Unseen words fall back to character count."""
    iq = id_col if id_col.isidentifier() else f"`{id_col}`"
    tq = text_col if text_col.isidentifier() else f"`{text_col}`"
    words = df.selectExpr(
        f"{iq} AS id", f"EXPLODE(SPLIT({tq}, ' ')) AS word"
    ).where("word != ''")
    seg = vocab.selectExpr("word", "CAST(SIZE(syms) AS BIGINT) AS __n_sub")
    return (
        words.join(F.broadcast(seg), "word", "left")
        .selectExpr(
            "id", "COALESCE(__n_sub, CAST(LENGTH(word) AS BIGINT)) AS __n"
        )
        .groupBy("id")
        .agg(
            F.expr("CAST(COUNT(1) AS BIGINT) AS n_words"),
            F.expr("CAST(SUM(__n) AS BIGINT) AS n_bpe_tokens"),
        )
    )


def bpe_apply_merges(
    df: DataFrame,
    text_col: str,
    id_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Tokenize NEW documents with a FROZEN merge table — the inference
    side of the trainer (train once on the corpus, apply to every later
    batch). Merges apply in rank order, each as one left-to-right fold
    over the word's symbol array; unseen words segment down to whatever
    the merge table reaches (character level at worst) — standard BPE
    behavior. Output: (id, word_idx, word, syms array<string>,
    n_sub BIGINT).

    The merge list is a driver-side literal (the trained table is
    n_merges rows — collect it or pass it from config); the application
    itself is a narrow map: |merges| chained folds inside one projection,
    no shuffle, no joins."""
    iq = id_col if id_col.isidentifier() else f"`{id_col}`"
    tq = text_col if text_col.isidentifier() else f"`{text_col}`"
    syms = "SPLIT(word, '')"
    for left, right in merges:
        syms = _apply_merge_sql(syms, sql_str_literal(left), sql_str_literal(right))
    return (
        df.selectExpr(
            f"{iq} AS id", f"POSEXPLODE(SPLIT({tq}, ' ')) AS (word_idx, word)"
        )
        .where("word != ''")
        .selectExpr(
            "id",
            "CAST(word_idx AS BIGINT) AS word_idx",
            "word",
            f"{syms} AS syms",
        )
        .selectExpr("*", "CAST(SIZE(syms) AS BIGINT) AS n_sub")
    )
