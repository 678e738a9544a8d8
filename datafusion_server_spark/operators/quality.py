"""Gopher-style document-quality rules for LLM-training-data curation.

Implements the repetition-and-composition filter family popularized by
the Gopher dataset pipeline (Rae et al. 2021, "Scaling Language Models:
Methods, Analysis & Insights from Training Gopher", §A1.1) as exact,
deterministic DataFrame compositions — every rule is reproducible
bit-for-bit by an ANSI-SQL oracle, so the operator is hash-checkable.

Rules computed per document (thresholds follow the paper where they are
published; each flag is emitted separately so callers can re-threshold):

- word count within [min_words, max_words]
- mean word length within [3, 10] chars
- >= 2 distinct stopwords present (the classic 10-word probe list)
- >= 80% of words contain at least one alphabetic character
- top word-2-gram character fraction <= 0.20
- duplicate word-3-gram character fraction <= 0.18

Character-fraction definitions (documented here because published specs
are ambiguous; the oracle implements these formulas verbatim):

- ``top_bigram_frac`` = ``count(top gram) * len(top gram) / len(text)``
  where the top gram is the most frequent 2-gram, ties broken by the
  lexicographically smallest gram.
- ``dup_trigram_frac`` = ``sum over 3-grams with count >= 2 of
  count * len(gram) / len(text)`` (all occurrences weighted; overlaps
  may push the ratio past 1.0 on degenerate text — it is a repetition
  score, not a partition of the text).

Scale notes (100 TB): the narrow stats are per-row column expressions
(no shuffle). The two n-gram fractions share ONE pass over the heavy
gram stream (``_fused_gram_counts``: each element carries the 2-gram
plus its null-padded third word, so 3-gram counts are a filter and
2-gram counts a sub-aggregation of the same keyed stream) — the text
column is scanned, split, and exploded once, and every aggregation is
keyed by doc id, so the work distributes evenly and never forms
cross-document pairs. The joins back to the base stats are id-keyed.

Reference parity note: the reference engine (neural-runner/
datafusion-server) has no quality-filter operators; this module is part
of the beyond-reference LLM-pipeline surface (BASELINE.json north-star).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datafusion_server_spark.operators.scale import ensure_fanout_parallelism

# The 10-word stopword probe list from the Gopher paper's rule
# ("contains at least 2 of: the, be, to, of, and, that, have, with").
# We extend to 10 with 'a'/'in' for a better probe on short docs; the
# threshold stays >= 2 distinct.
STOPWORD_PROBE = ("the", "be", "to", "of", "and", "that", "have", "with", "a", "in")

DEFAULT_MIN_WORDS = 50
DEFAULT_MAX_WORDS = 100_000
TOP_BIGRAM_MAX_FRAC = 0.20
DUP_TRIGRAM_MAX_FRAC = 0.18


def _fused_gram_counts(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, gram2, w3, cnt): ONE pass over the heavy gram stream that
    serves both rules. Each stream element is (w_i, w_{i+1}, w_{i+2} or
    null) — arrays_zip null-pads the third slice, so the final position
    of every document yields its last 2-gram with a null w3. 2-gram
    counts are then ``sum(cnt) grouped by (id, gram2)`` and 3-gram
    counts are the rows with w3 non-null — the text column is scanned,
    split, and exploded exactly once instead of once per gram size.

    Slice-based like ``_word_shingles_sql`` (the element_at-in-lambda form
    is O(words^2) per doc under Catalyst's CollapseProject)."""
    df = ensure_fanout_parallelism(df)
    words = F.split(F.col(text_col), " ")
    m = F.greatest(F.size(words) - 1, F.lit(0))
    zipped = F.arrays_zip(
        F.slice(words, 1, m), F.slice(words, 2, m), F.slice(words, 3, m)
    )
    return (
        df.select(F.col(id_col).alias("id"), F.explode(zipped).alias("t"))
        .select(
            "id",
            F.concat_ws(" ", F.col("t")["0"], F.col("t")["1"]).alias("gram2"),
            F.col("t")["2"].alias("w3"),
        )
        .groupBy("id", "gram2", "w3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def _round6(col: Column) -> Column:
    return F.round(col, 6)


def gopher_quality_flags(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_words: int = DEFAULT_MIN_WORDS,
    max_words: int = DEFAULT_MAX_WORDS,
    materialize: bool = True,
) -> DataFrame:
    """Per-document Gopher-style quality metrics and pass/fail flags.

    Output columns: (id, n_words, mean_word_len, n_stopwords,
    frac_alpha_words, top_bigram_frac, dup_trigram_frac,
    pass_word_count, pass_mean_word_len, pass_stopwords, pass_alpha,
    pass_rep_bigram, pass_rep_trigram, keep) — ``keep`` is the AND of
    all flags. Tokenization is a literal single-space split (the
    module-wide determinism contract).

    ``materialize`` (default True) eager-localCheckpoints the fused gram
    counts so the one heavy explode+aggregate feeds both repetition
    rules instead of recomputing per branch (the same staging contract
    as the dedup/similarity operators)."""
    text = F.col(text_col)
    words = F.split(text, " ")
    n_words = F.size(words).cast("bigint")
    n_chars = F.length(text).cast("bigint")
    # total word chars = n_chars - (n_words - 1) separators
    mean_word_len = _round6(
        (n_chars - (n_words - F.lit(1))).cast("double") / n_words.cast("double")
    )
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(words), F.array(*[F.lit(w) for w in STOPWORD_PROBE])
        )
    ).cast("bigint")
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))).cast("bigint")
    frac_alpha = _round6(alpha_words.cast("double") / n_words.cast("double"))

    base = df.select(
        F.col(id_col).alias("id"),
        n_words.alias("n_words"),
        n_chars.alias("n_chars"),
        mean_word_len.alias("mean_word_len"),
        n_stop.alias("n_stopwords"),
        frac_alpha.alias("frac_alpha_words"),
    )

    fused = _fused_gram_counts(df, text_col, id_col)
    if materialize:
        # both rule branches consume the fused counts; an eager
        # localCheckpoint computes the heavy explode+aggregate once
        # (Spark does not exchange-reuse across the branches — the
        # round-robin fan-out guard makes the subtrees unequal)
        fused = fused.localCheckpoint(eager=True)

    # top 2-gram: min of struct(-cnt, gram) picks max count, then the
    # lexicographically smallest gram — the oracle's deterministic
    # tie-break, expressed as one aggregation.
    top2 = (
        fused.groupBy("id", "gram2")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        .groupBy("id")
        .agg(F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("gram2").alias("g"))).alias("t"))
        .select(
            "id",
            (-F.col("t.nc")).cast("bigint").alias("top2_cnt"),
            F.length(F.col("t.g")).cast("bigint").alias("top2_len"),
        )
    )
    # 3-gram rows are the non-null-w3 slice of the SAME fused stream;
    # gram length = len(gram2) + 1 separator + len(w3)
    dup3 = (
        fused.filter(F.col("w3").isNotNull() & (F.col("cnt") >= 2))
        .groupBy("id")
        .agg(
            F.sum(
                F.col("cnt") * (F.length(F.col("gram2")) + 1 + F.length(F.col("w3")))
            )
            .cast("bigint")
            .alias("dup3_chars")
        )
    )

    out = (
        base.join(top2, "id", "left")
        .join(dup3, "id", "left")
        .select(
            "id",
            "n_words",
            "mean_word_len",
            "n_stopwords",
            "frac_alpha_words",
            _round6(
                F.coalesce(
                    (F.col("top2_cnt") * F.col("top2_len")).cast("double")
                    / F.col("n_chars").cast("double"),
                    F.lit(0.0),
                )
            ).alias("top_bigram_frac"),
            _round6(
                F.coalesce(
                    F.col("dup3_chars").cast("double") / F.col("n_chars").cast("double"),
                    F.lit(0.0),
                )
            ).alias("dup_trigram_frac"),
        )
    )
    flags = out.select(
        "*",
        ((F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)).alias(
            "pass_word_count"
        ),
        ((F.col("mean_word_len") >= 3.0) & (F.col("mean_word_len") <= 10.0)).alias(
            "pass_mean_word_len"
        ),
        (F.col("n_stopwords") >= 2).alias("pass_stopwords"),
        (F.col("frac_alpha_words") >= 0.8).alias("pass_alpha"),
        (F.col("top_bigram_frac") <= TOP_BIGRAM_MAX_FRAC).alias("pass_rep_bigram"),
        (F.col("dup_trigram_frac") <= DUP_TRIGRAM_MAX_FRAC).alias("pass_rep_trigram"),
    )
    return flags.select(
        "*",
        (
            F.col("pass_word_count")
            & F.col("pass_mean_word_len")
            & F.col("pass_stopwords")
            & F.col("pass_alpha")
            & F.col("pass_rep_bigram")
            & F.col("pass_rep_trigram")
        ).alias("keep"),
    )


def c4_prune_rules(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """C4-style page cleaning (Raffel et al. 2020, §2.2 — the public
    T5/C4 heuristics) over newline-structured text.

    Line rules — a line is RETAINED only if it (a) ends in a terminal
    punctuation mark (``.`` ``!`` ``?`` ``"``), (b) contains at least 3
    words, (c) does not mention "javascript", and (d) is not a
    boilerplate policy line ("cookie policy" / "privacy policy" /
    "terms of use"). Page rules — a page is KEPT only if it contains
    no "lorem ipsum", no curly brace, and at least 5 sentences
    (terminal punctuation marks) survive line filtering.

    Output: (id, n_lines, n_kept_lines, n_sentences, has_lorem,
    has_brace, keep_page, cleaned_text). One narrow projection — no
    shuffle, no UDF: the whole chain is codegen'd string/array
    built-ins, so it scales with the scan. The kept-lines array is
    hoisted to its own projection with three downstream references so
    CollapseProject cannot re-inline the FILTER per consumer (the
    established lambda-invariant discipline)."""
    from datafusion_server_spark.operators.scale import quote_ident

    t = quote_ident(text_col)
    kept = (
        f"FILTER(SPLIT({t}, '\\n'), l -> "
        "RTRIM(l) RLIKE '[.!?\"]$' "
        "AND SIZE(SPLIT(TRIM(l), ' ')) >= 3 "
        "AND NOT CONTAINS(LOWER(l), 'javascript') "
        "AND NOT CONTAINS(LOWER(l), 'cookie policy') "
        "AND NOT CONTAINS(LOWER(l), 'privacy policy') "
        "AND NOT CONTAINS(LOWER(l), 'terms of use'))"
    )
    staged = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("__page"),
        F.expr(f"{kept} AS __kept"),
    )
    cleaned = "ARRAY_JOIN(__kept, '\\n')"
    n_sent = f"CAST(LENGTH(REGEXP_REPLACE({cleaned}, '[^.!?]', '')) AS BIGINT)"
    return staged.select(
        "id",
        F.expr("CAST(SIZE(SPLIT(__page, '\\n')) AS BIGINT) AS n_lines"),
        F.expr("CAST(SIZE(__kept) AS BIGINT) AS n_kept_lines"),
        F.expr(f"{n_sent} AS n_sentences"),
        F.expr("CONTAINS(LOWER(__page), 'lorem ipsum') AS has_lorem"),
        F.expr("CONTAINS(__page, '{') AS has_brace"),
        F.expr(
            "(NOT CONTAINS(LOWER(__page), 'lorem ipsum') "
            "AND NOT CONTAINS(__page, '{') "
            f"AND {n_sent} >= 5) AS keep_page"
        ),
        F.expr(f"{cleaned} AS cleaned_text"),
    )


def repetition_rules(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Gopher-style line-repetition pruning signals (Rae et al. 2021,
    §A1.3 repetition filters; the same family FineWeb applies) over
    newline-structured text.

    Signals — duplicates counted as instances BEYOND the first
    occurrence of an identical line:
    - ``dup_line_frac``: duplicate line instances / total lines
      (Gopher drops > 0.30)
    - ``dup_line_char_frac``: characters inside duplicate line
      instances / total line characters (Gopher drops > 0.20)
    - ``top_line_frac``: occurrences of the most frequent line / total
      lines (the boilerplate-header signal)

    Output: (id, n_lines, n_dup_lines, dup_line_frac,
    dup_line_char_frac, top_line_frac, keep). One narrow codegen
    projection — no shuffle, no UDF. ``top_line_frac`` is an in-row
    O(L²) distinct×filter scan, bounded because lines-per-document is
    a small constant (pages, not corpora — L ≤ tens); the char
    fractions are O(L) via join-length differences."""
    from datafusion_server_spark.operators.scale import quote_ident

    t = quote_ident(text_col)
    staged = df.select(
        F.col(id_col).alias("id"),
        F.expr(f"SPLIT({t}, '\\n') AS __lines"),
        F.expr(f"ARRAY_DISTINCT(SPLIT({t}, '\\n')) AS __dlines"),
    )
    n = "CAST(SIZE(__lines) AS BIGINT)"
    nd = "CAST(SIZE(__dlines) AS BIGINT)"
    chars = "CAST(LENGTH(ARRAY_JOIN(__lines, '')) AS BIGINT)"
    dchars = "CAST(LENGTH(ARRAY_JOIN(__dlines, '')) AS BIGINT)"
    dup_frac = f"(CAST({n} - {nd} AS DOUBLE) / {n})"
    dup_char_frac = (
        f"(CASE WHEN {chars} = 0 THEN CAST(0 AS DOUBLE) "
        f"ELSE CAST({chars} - {dchars} AS DOUBLE) / {chars} END)"
    )
    top_frac = (
        "(CAST(ARRAY_MAX(TRANSFORM(__dlines, d -> "
        f"SIZE(FILTER(__lines, x -> x = d)))) AS DOUBLE) / {n})"
    )
    return staged.select(
        "id",
        F.expr(f"{n} AS n_lines"),
        F.expr(f"CAST({n} - {nd} AS BIGINT) AS n_dup_lines"),
        F.expr(f"ROUND({dup_frac}, 6) AS dup_line_frac"),
        F.expr(f"ROUND({dup_char_frac}, 6) AS dup_line_char_frac"),
        F.expr(f"ROUND({top_frac}, 6) AS top_line_frac"),
        F.expr(
            f"({dup_frac} <= 0.30 AND {dup_char_frac} <= 0.20) AS keep"
        ),
    )
