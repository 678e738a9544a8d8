"""Deterministic dataset sampling / splitting for training-data pipelines.

Beyond-reference operators. Training corpora are mixed from sources with
per-source weights and split train/val/test; both must be (a) exactly
reproducible across runs and engines, (b) stable under repartitioning,
(c) free of coordination — a pure function of the row key. The standard
trick: hash the key to a uniform fraction in [0,1) and compare against
rates/thresholds. Hash = md5 (bit-identical in Spark and DuckDB), so the
oracle reproduces the exact row set.

Scale notes (100 TB): both operators are narrow transformations — a
filter / projection with no shuffle at all. Sampling 100 TB costs one
scan; the selectivity reaches the scan via normal predicate pushdown of
the surrounding plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datafusion_server_spark.operators.scale import quote_ident, sql_str_literal

_HEX_DIGITS = 15
_HEX_SPAN = float(16**_HEX_DIGITS)


def hash_fraction(key: Column, seed: str) -> Column:
    """Uniform [0,1) fraction from md5('{seed}:{key}') — the first 15 hex
    digits scaled by 16^-15 (exact in a double; same math as the KMV
    sketch)."""
    h = F.md5(F.concat(F.lit(f"{seed}:"), key.cast("string")))
    return F.conv(F.substring(h, 1, _HEX_DIGITS), 16, 10).cast("bigint") / F.lit(
        _HEX_SPAN
    )


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates: dict[str, float],
    *,
    default_rate: float = 0.0,
    seed: str = "sample",
) -> DataFrame:
    """Keep each row with probability ``rates[stratum]`` (per-source
    mixture weights), decided by the row key's hash fraction — same key
    always gets the same verdict, independent of partitioning, engine,
    or run."""
    frac = hash_fraction(F.col(key_col), seed)
    rate = F.lit(default_rate)
    for stratum, r in rates.items():
        rate = F.when(F.col(strata_col) == stratum, F.lit(float(r))).otherwise(rate)
    return df.filter(frac < rate)


def domain_mix_sample(
    df: DataFrame,
    key_col: str,
    domain_col: str,
    target_shares: dict[str, float],
    total_out: int,
    *,
    default_share: float = 0.0,
    seed: str = "mix",
) -> DataFrame:
    """Sample to TARGET DOMAIN PROPORTIONS — the data-mixing step of a
    training-corpus build: given desired output shares per domain (e.g.
    web 0.6 / code 0.2 / books 0.2) and an output budget, each domain's
    keep-rate derives IN-PLAN from its actual row count:

        rate_d = min(1, share_d * total_out / n_d)

    so over-represented domains are down-sampled toward their target
    share and under-represented domains are kept whole (the min-1 cap —
    upsampling is a separate concern). Per-row keep decisions are the
    same deterministic hash-fraction band as ``stratified_sample``.

    Scale shape: ONE count aggregation over the corpus (map-side
    combined), its tiny per-domain result broadcast back into a narrow
    filter — no second shuffle, no driver-side counts."""
    share = F.lit(float(default_share))
    for d, s in target_shares.items():
        share = F.when(F.col(domain_col) == d, F.lit(float(s))).otherwise(share)
    rates = (
        df.groupBy(domain_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n_d"))
        .withColumn(
            "__rate", F.least(F.lit(1.0), share * float(total_out) / F.col("__n_d"))
        )
        .select(F.col(domain_col).alias("__dom"), "__rate")
    )
    # null-safe equality: a NULL domain is a group too (it gets
    # default_share) — a plain equi-join would silently drop those rows
    return (
        df.join(F.broadcast(rates), df[domain_col].eqNullSafe(rates["__dom"]))
        .filter(hash_fraction(F.col(key_col), seed) < F.col("__rate"))
        .drop("__dom", "__rate")
    )


def reservoir_per_group(
    df: DataFrame,
    key_col: str,
    group_col: str,
    k: int,
    *,
    seed: str = "reservoir",
) -> DataFrame:
    """Deterministic k-per-group sample: within each group keep the k
    rows with the smallest hash fraction (ties broken by key). This is
    the classic hash-rank formulation of reservoir sampling — the same
    marginal distribution as Vitter's Algorithm R with the hash as the
    randomness source, but reproducible across runs, engines, and
    partitionings, and mergeable (the k smallest of a union is computable
    from per-part k-smallest sets).

    Output: the input rows of the winners plus their ``sample_rank``
    (1..k within group).

    Scale notes (100 TB): one shuffle keyed by the group column. The
    window's per-group sort is bounded by Spark's TopK optimization only
    when a global limit exists, so for severely skewed groups pre-thin
    first with a band on THE SAME hash — ``df.filter(
    hash_fraction(F.col(key), seed) < rate)`` with this operator's
    ``seed`` — then rank. The winners are unchanged by any pre-filter
    that keeps every row whose reservoir-hash fraction is below some
    cut above the group's k-th smallest (a same-seed band does exactly
    that); a filter on a DIFFERENT hash or seed (e.g.
    ``stratified_sample``'s default 'sample' seed) drops winners and
    changes the result."""
    from pyspark.sql import Window

    frac = hash_fraction(F.col(key_col), seed)
    w = Window.partitionBy(group_col).orderBy(frac.asc(), F.col(key_col).asc())
    return (
        df.withColumn("sample_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("sample_rank") <= k)
    )


def split_assign(
    df: DataFrame,
    key_col: str,
    *,
    val_frac: float = 0.1,
    test_frac: float = 0.1,
    seed: str = "split",
) -> DataFrame:
    """Append a deterministic ``split`` column: 'val' for hash fraction
    < val_frac, 'test' for the next test_frac band, else 'train'.
    Banding on one hash keeps the three sets disjoint by construction."""
    frac = hash_fraction(F.col(key_col), seed)
    return df.withColumn(
        "split",
        F.when(frac < val_frac, F.lit("val"))
        .when(frac < val_frac + test_frac, F.lit("test"))
        .otherwise(F.lit("train")),
    )


def temperature_mix_sample(
    df: DataFrame,
    key_col: str,
    domain_col: str,
    alpha: float,
    total_out: int,
    *,
    seed: str = "tmix",
) -> DataFrame:
    """Temperature-scaled domain mixing (the multilingual-training
    alpha-sampling rule): target shares derive from the domains' OWN
    sizes raised to ``alpha`` in (0, 1],

        share_d = n_d^alpha / sum_e n_e^alpha,
        rate_d  = min(1, share_d * total_out / n_d),

    so alpha=1 reproduces the natural distribution and alpha->0
    approaches uniform over domains — small domains are up-weighted
    RELATIVE to large ones without enumerating shares by hand (the
    difference from ``domain_mix_sample``, which takes explicit
    targets). Keep decisions are the same deterministic hash-fraction
    band as ``stratified_sample``.

    Determinism contract: ``n_d^alpha`` is rounded to 6 decimals and the
    share denominator summed as DECIMAL (exact, order-independent); the
    share division happens in double on both engines — no decimal
    division (whose result scale is engine-specific).

    Scale shape (100 TB): identical to ``domain_mix_sample`` — ONE
    count aggregation (map-side combined), a plan-embedded broadcast
    1-row aggregate for the denominator, and a narrow broadcast-join +
    filter back over the corpus. No driver-side counts."""
    counts = (
        df.groupBy(domain_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n_d"))
        .withColumn(
            "__w", F.round(F.pow(F.col("__n_d").cast("double"), float(alpha)), 6).cast(
                "decimal(28,6)"
            )
        )
    )
    denom = counts.agg(F.sum("__w").alias("__tot"))
    rates = (
        counts.crossJoin(F.broadcast(denom))
        .select(
            F.col(domain_col).alias("__dom"),
            F.least(
                F.lit(1.0),
                (F.col("__w").cast("double") / F.col("__tot").cast("double"))
                * float(total_out)
                / F.col("__n_d").cast("double"),
            ).alias("__rate"),
        )
    )
    return (
        df.join(F.broadcast(rates), df[domain_col].eqNullSafe(rates["__dom"]))
        .filter(hash_fraction(F.col(key_col), seed) < F.col("__rate"))
        .drop("__dom", "__rate")
    )


def weighted_reservoir_per_group(
    df: DataFrame,
    key_col: str,
    group_col: str,
    weight_col: str,
    k: int,
    *,
    seed: str = "wres",
) -> DataFrame:
    """Weight-proportional k-per-group sampling WITHOUT replacement
    (Efraimidis-Spirakis A-Res): each row draws u = hash fraction and
    ranks by u^(1/w) descending — the classic one-pass weighted
    reservoir, here in its deterministic hash form. Rows with
    NULL/zero/negative weight are excluded (A-Res is undefined there).

    Ranking uses the monotone-equivalent ``round(ln(u), 8) / w``
    (u^(1/w) desc <=> ln(u)/w desc for w > 0): ln(u) is well-spread
    over (-inf, 0) — unlike u^(1/w), which clusters near 1 for large
    weights and would collide under rounding — and the single libm op
    is rounded before the exact IEEE division, the cross-engine
    determinism contract. Ties (astronomically unlikely) break by key.

    Output: input rows + ``sample_rank`` (1..k within group).

    Scale notes (100 TB): same shape as ``reservoir_per_group`` — one
    shuffle keyed by the group column; per-group state is the top-k
    heap. Mergeable for the same reason (max-k of a union is computable
    from per-part max-k sets)."""
    from pyspark.sql import Window

    w = F.col(weight_col).cast("double")
    # frac = 0 (an all-zero md5 prefix, p = 16^-15 per row) would be NULL
    # under Spark's ln and an ERROR under DuckDB's — floor it just below
    # the smallest representable nonzero fraction (1/16^15 ~ 8.7e-19) so
    # both engines see the same positive input and real values never move
    frac = F.greatest(hash_fraction(F.col(key_col), seed), F.lit(5e-19))
    key = F.round(F.log(frac), 8) / w
    win = Window.partitionBy(group_col).orderBy(key.desc(), F.col(key_col).asc())
    return (
        df.filter(w > 0.0)
        .withColumn("sample_rank", F.row_number().over(win).cast("bigint"))
        .filter(F.col("sample_rank") <= k)
    )


def split_leakage_safe(
    df: DataFrame,
    key_col: str,
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    *,
    val_frac: float = 0.1,
    test_frac: float = 0.1,
    seed: str = "split",
) -> DataFrame:
    """Dedup-AWARE train/val/test assignment: near-duplicate documents
    must not straddle the split boundary (a val doc whose near-copy sits
    in train is leakage — the eval is contaminated by construction).
    The near-dup pair graph collapses to connected components
    (min-label, ``operators.dedup.connected_components``) and the hash
    band is taken over the COMPONENT ROOT, so every member of a near-dup
    cluster lands in the same split; documents in no pair are their own
    root and split exactly as ``split_assign`` would.

    Output: input rows + (split_root BIGINT, split STRING).

    Scale notes: components cost is the pair graph's (diameter-bounded
    loop, see connected_components); the assignment itself is one LEFT
    join of the corpus against the (small) clustered-node table plus a
    narrow hash band."""
    from datafusion_server_spark.operators.dedup import connected_components

    comp = connected_components(pairs, id_a, id_b).select(
        F.col("node").alias(key_col), F.col("component")
    )
    rooted = df.join(comp, key_col, "left").withColumn(
        "split_root",
        F.coalesce(F.col("component"), F.col(key_col)).cast("bigint"),
    ).drop("component")
    frac = hash_fraction(F.col("split_root"), seed)
    return rooted.withColumn(
        "split",
        F.when(frac < val_frac, F.lit("val"))
        .when(frac < val_frac + test_frac, F.lit("test"))
        .otherwise(F.lit("train")),
    )


def effective_sample_size(
    df: DataFrame, weight_col: str, group_col: str
) -> DataFrame:
    """Kish effective sample size of a weighted set per group:

        ESS = (sum w)^2 / sum w^2

    — how many EQUAL-weight samples the weighted mixture is worth
    (ESS << n means a few heavy weights dominate; the diagnostic to
    run after importance-weighted mixing/up-sampling decisions).
    Output: (group, n BIGINT, ess DOUBLE rounded 6, ess_ratio DOUBLE
    rounded 6 = ESS/n). NULL/non-positive weights are excluded.

    Determinism: weight moments as rounded DECIMAL sums (the
    correlation-matrix contract); final ratio in double. One map-side-
    combined aggregation."""
    w = F.col(weight_col).cast("double")
    agg = (
        df.filter(w.isNotNull() & (w > 0.0))
        .groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.round(w, 6).cast("decimal(38,6)")).alias("__s"),
            F.sum(F.round(w * w, 4).cast("decimal(38,4)")).alias("__ss"),
        )
    )
    s = F.col("__s").cast("double")
    ss = F.col("__ss").cast("double")
    ess = s * s / ss
    return agg.select(
        F.col("grp").alias(group_col),
        "n",
        F.round(ess, 6).alias("ess"),
        F.round(ess / F.col("n").cast("double"), 6).alias("ess_ratio"),
    )


def shuffle_shard_export(
    df: DataFrame,
    key_col: str,
    n_shards: int,
    seed: str = "shard",
) -> DataFrame:
    """Deterministic global shuffle + sharding for training-data export:
    every row gets a shard (uniform md5 bucket) and a position within
    its shard (rank by the hash value, key as tiebreak) — the
    shuffle-before-training step of a dataloader pipeline, reproducible
    across runs/engines/partitionings because the permutation is a pure
    function of (seed, key). Output: (id, shard, pos), pos 1-based.

    Scale shape (100 TB): one hash projection + one rank window
    PARTITIONED BY SHARD — the sort is per-shard (corpus/n_shards rows),
    never a global total-order sort; shard keys are uniform md5, so no
    skew. Writing then partitions by `shard` (`write_dataset`), giving
    dataloader-ready shard files."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), F.col(key_col).cast("string"))), 1, 15),
        16,
        10,
    ).cast("bigint")
    w = Window.partitionBy("shard").orderBy("h", "id")
    return (
        df.select(F.col(key_col).alias("id"), h.alias("h"))
        .withColumn("shard", (F.col("h") % n_shards).cast("int"))
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .select("id", "shard", "pos")
    )


def epoch_mix(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    multiplicities: dict[str, float],
    *,
    default_multiplicity: float = 1.0,
    seed: str = "epoch",
) -> DataFrame:
    """Per-source epoch multiplicities (the LLaMA-style data recipe:
    e.g. wikipedia x2.4 epochs, web x0.9): every row is repeated
    floor(m) times, plus one extra copy when its hash fraction falls
    under frac(m) — so the EXPECTED duplication of a stratum is exactly
    m, and the decision is a pure function of (seed, key), reproducible
    anywhere. Output: input row key + stratum + ``epoch`` (1-based copy
    index).

    Scale shape: a narrow projection + an in-row ``explode(sequence)``
    — per-row fan-out is ceil(m), no shuffle at all."""
    m_col = F.lit(None).cast("double")
    expr = None
    for k, v in multiplicities.items():
        cond = F.col(strata_col) == k
        expr = F.when(cond, float(v)) if expr is None else expr.when(cond, float(v))
    m_col = expr.otherwise(float(default_multiplicity)) if expr is not None else F.lit(
        float(default_multiplicity)
    )
    frac = hash_fraction(F.col(key_col), seed)
    n_copies = (
        F.floor(m_col).cast("bigint")
        + F.when(frac < (m_col - F.floor(m_col)), F.lit(1)).otherwise(F.lit(0))
    )
    return (
        df.select(
            F.col(key_col).alias("id"),
            F.col(strata_col).alias("stratum"),
            n_copies.alias("__n"),
        )
        .filter(F.col("__n") > 0)
        .select(
            "id",
            "stratum",
            F.explode(F.sequence(F.lit(1), F.col("__n"))).alias("epoch"),
        )
        .select("id", "stratum", F.col("epoch").cast("bigint"))
    )


def dsir_importance(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    target_pred: str,
    *,
    n_buckets: int = 256,
    seed: str = "dsir",
) -> DataFrame:
    """(id, n_tokens, logw DOUBLE, logw_dec DECIMAL): hashed-n-gram
    importance weights — the DSIR recipe (Xie et al., "Data Selection
    for Language Models via Importance Resampling", arXiv:2302.03169):
    estimate a bag-of-hashed-unigrams model of the TARGET domain
    (rows where the SQL boolean expression ``target_pred`` holds) and of
    the RAW corpus, then weight every document by its log likelihood
    ratio

        logw(doc) = sum over token occurrences of
                    ln p_target(bucket) - ln p_raw(bucket)

    with add-one smoothing over the ``n_buckets`` hash buckets. High
    logw = looks like the target domain; resample the corpus by logw
    (top-k or Gumbel) to shift the mixture toward the target.

    Determinism: buckets come from md5 (engine-identical); each
    bucket's log-ratio is rounded to 8 decimals and cast to
    DECIMAL(18,8) BEFORE the per-document sum, so the only
    cross-engine float op (ln) is quantized first and the aggregation
    is an exact, order-independent decimal sum (the corpus-LM
    cross-entropy pattern).

    Scale shape (100 TB): one token explode (the same stream the LM /
    TF-IDF operators pay), one 2*n_buckets-row model aggregation
    (broadcast back), one per-document re-aggregation — no self-joins,
    no driver materialization; the model table is O(n_buckets).
    """
    tok = docs.selectExpr(
        f"{quote_ident(id_col)} AS id",
        f"CAST(({target_pred}) AS BOOLEAN) AS is_target",
        f"EXPLODE(SPLIT({quote_ident(text_col)}, ' ')) AS term",
    )
    tokb = tok.selectExpr(
        "id",
        "is_target",
        f"CAST(CONV(SUBSTRING(MD5(CONCAT({sql_str_literal(f'{seed}:')}, term)), 1,"
        f" {_HEX_DIGITS}), 16, 10) AS BIGINT) % {int(n_buckets)} AS bucket",
    )
    counts = tokb.groupBy("bucket").agg(
        F.expr("CAST(COUNT(1) AS BIGINT) AS cr"),
        F.expr("CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS ct"),
    )
    totals = counts.agg(
        F.expr("CAST(SUM(cr) AS BIGINT) AS tr"),
        F.expr("CAST(SUM(ct) AS BIGINT) AS tt"),
    )
    lr = counts.crossJoin(F.broadcast(totals)).selectExpr(
        "bucket",
        f"CAST(ROUND(LN(CAST(ct + 1 AS DOUBLE) / CAST(tt + {int(n_buckets)} AS DOUBLE))"
        f" - LN(CAST(cr + 1 AS DOUBLE) / CAST(tr + {int(n_buckets)} AS DOUBLE)),"
        f" 8) AS DECIMAL(18,8)) AS lr",
    )
    scored = (
        tokb.join(F.broadcast(lr), "bucket")
        .groupBy("id")
        .agg(
            F.expr("CAST(COUNT(1) AS BIGINT) AS n_tokens"),
            F.expr("CAST(SUM(lr) AS DECIMAL(28,8)) AS logw_dec"),
        )
    )
    return scored.selectExpr(
        "id", "n_tokens", "CAST(logw_dec AS DOUBLE) AS logw", "logw_dec"
    )


def curriculum_order(
    docs: DataFrame,
    id_col: str,
    score_col: str,
    n_strata: int = 10,
) -> DataFrame:
    """Interleaved curriculum ordering (easy->hard with per-step
    difficulty mixing): assign each document to one of ``n_strata``
    uniform difficulty bands, then emit a deterministic GLOBAL training
    position that round-robins across bands — position
    ``(rank_in_band - 1) * n_strata + band`` — so every consecutive
    window of ``n_strata`` training examples spans the full difficulty
    range (the curriculum-with-mixing recipe; pure easy->hard ordering
    is the ``ORDER BY band, rank`` projection of the same output).

    Scale design: bands come from ONE tiny min/max aggregation
    broadcast back (integer band arithmetic — NEVER a global NTILE,
    which is a single-partition window sort at corpus scale), and
    ranks are per-band windows, i.e. ``n_strata``-way parallel. The
    integer expression ``((score - mn) * n_strata) div (mx - mn + 1)``
    is exact in any engine. Ties break by id, so the full output is
    bit-deterministic under any partitioning.
    """
    s = F.col(score_col).cast("bigint")
    bounds = docs.agg(
        F.min(s).alias("__mn"), F.max(s).alias("__mx")
    )
    banded = docs.crossJoin(F.broadcast(bounds)).select(
        F.col(id_col).alias("id"),
        s.alias("score"),
        F.expr(
            f"CAST(((CAST({score_col} AS BIGINT) - __mn) * {n_strata}) "
            f"div (__mx - __mn + 1) AS BIGINT)"
        ).alias("stratum"),
    )
    w = Window.partitionBy("stratum").orderBy(F.asc("score"), F.asc("id"))
    return banded.select(
        "id",
        "score",
        "stratum",
        F.row_number().over(w).cast("bigint").alias("pos_in_stratum"),
        (
            (F.row_number().over(w) - 1).cast("bigint") * n_strata
            + F.col("stratum")
        ).alias("training_position"),
    )


def token_budget_waterfill(
    df: DataFrame,
    strata_col: str,
    tokens_col: Column,
    budget_num: int,
    budget_den: int,
) -> DataFrame:
    """Water-filling token-budget allocation across strata — the data-
    recipe planning step that answers "given a total token budget of
    num/den of the corpus, how many tokens may each domain contribute?"
    Scarce domains are taken whole; abundant domains are levelled down
    to a common water level L chosen so the allocations sum EXACTLY to
    the budget (the classic water-filling solution to maximizing the
    minimum per-domain share subject to availability caps).

    All arithmetic is integer, so the result is bit-deterministic and
    the DuckDB oracle replays it exactly:

    - ``budget = (total_tokens * budget_num) div budget_den``;
    - strata sorted by (avail ASC, stratum ASC); the first index ``j*``
      whose availability cannot be fully granted from the remaining
      budget (``avail_j * strata_left > budget_left``) starts the
      levelled segment — everything before it is fully used;
    - ``L = budget_left div strata_left``; the ``budget_left mod
      strata_left`` leftover tokens go one-each to the lexicographically
      first levelled strata (documented deterministic tie-break).

    Output: (stratum, avail_tokens, alloc_tokens, fully_used). When the
    budget covers the whole corpus every stratum is fully used and the
    surplus stays unallocated (alloc sums to total, not budget).

    Scale shape (100 TB): ONE aggregation over the corpus reduces it to
    a strata-count-bounded table; every window after that is over that
    K-bounded table (the eval_nb_auc / curriculum pattern — aggregate
    first, order the bounded result, never a corpus-wide sort)."""
    agg = df.groupBy(F.col(strata_col).alias("stratum")).agg(
        F.sum(tokens_col.cast("bigint")).alias("avail")
    )
    # bounded window: runs over the strata-count-bounded aggregate
    wo = Window.orderBy(F.asc("avail"), F.asc("stratum"))
    wall = Window.partitionBy()
    base = agg.select(
        "stratum",
        "avail",
        F.row_number().over(wo).alias("j"),
        F.coalesce(
            F.sum("avail").over(wo.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0).cast("bigint"),
        ).alias("s_prev"),
        F.sum("avail").over(wall).alias("total"),
        F.count(F.lit(1)).over(wall).alias("n"),
    ).select(
        "stratum",
        "avail",
        "j",
        "s_prev",
        "n",
        F.expr(f"(total * {int(budget_num)}) div {int(budget_den)}").alias("budget"),
    )
    lvl = base.select(
        "stratum",
        "avail",
        "j",
        (F.col("n") - F.col("j") + 1).alias("k"),
        (F.col("budget") - F.col("s_prev")).alias("rem"),
    )
    # two window passes: jstar first, THEN the values AT jstar — rem and
    # k both decrease with j, so a min over the whole levelled region
    # would pick the last row's values, not the segment boundary's
    star = lvl.withColumn(
        "jstar",
        F.min(
            F.when(F.col("avail") * F.col("k") > F.col("rem"), F.col("j"))
        ).over(wall),
    )
    star = star.select(
        "stratum",
        "avail",
        "j",
        "jstar",
        F.min(F.when(F.col("j") == F.col("jstar"), F.col("rem"))).over(wall).alias(
            "rem_star"
        ),
        F.min(F.when(F.col("j") == F.col("jstar"), F.col("k"))).over(wall).alias(
            "k_star"
        ),
    )
    flagged = star.select(
        "stratum",
        "avail",
        F.expr("rem_star div k_star").alias("lvl"),
        (F.col("rem_star") % F.col("k_star")).alias("leftover"),
        (F.col("jstar").isNull() | (F.col("j") < F.col("jstar"))).alias("fully_used"),
    )
    wu = Window.partitionBy("fully_used").orderBy(F.asc("stratum"))
    return flagged.select(
        "stratum",
        F.col("avail").cast("bigint").alias("avail_tokens"),
        F.when(F.col("fully_used"), F.col("avail"))
        .otherwise(
            F.col("lvl")
            + F.when(F.row_number().over(wu) <= F.col("leftover"), F.lit(1)).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("alloc_tokens"),
        "fully_used",
    )


def unimax_allocation(
    df: DataFrame,
    strata_col: str,
    tokens_col: Column,
    budget_num: int,
    budget_den: int,
    epochs_num: int,
    epochs_den: int = 1,
) -> DataFrame:
    """UniMax language/domain sampling (Chung et al. 2023,
    arXiv:2304.09151): split a total token budget UNIFORMLY across
    strata, except no stratum may be repeated beyond ``epochs_num/
    epochs_den`` passes over its corpus — the anti-overfitting cap that
    distinguishes UniMax from plain uniform sampling. Structurally this
    is ``token_budget_waterfill`` with availability replaced by the
    epoch cap ``cap_l = (avail_l * epochs) div 1``: scarce (capped)
    strata take their whole cap, abundant ones level down to a common
    water level chosen so allocations sum EXACTLY to the budget
    (``budget = (total_true * budget_num) div budget_den`` over the TRUE
    corpus total, not the capped one).

    All-integer arithmetic (bit-deterministic; the DuckDB oracle replays
    it); windows run over the strata-bounded aggregate only. Output:
    (stratum, avail_tokens, cap_tokens, alloc_tokens, capped) where
    ``capped`` marks strata pinned at their epoch cap. When the budget
    exceeds the summed caps, every stratum is capped and the surplus
    stays unallocated (the documented degenerate case)."""
    agg = df.groupBy(F.col(strata_col).alias("stratum")).agg(
        F.sum(tokens_col.cast("bigint")).alias("avail")
    )
    wall = Window.partitionBy()
    capped = agg.select(
        "stratum",
        "avail",
        F.expr(f"(avail * {int(epochs_num)}) div {int(epochs_den)}").alias("cap"),
        F.sum("avail").over(wall).alias("total_true"),
    )
    # bounded window: runs over the strata-count-bounded aggregate
    wo = Window.orderBy(F.asc("cap"), F.asc("stratum"))
    base = capped.select(
        "stratum",
        "avail",
        "cap",
        F.row_number().over(wo).alias("j"),
        F.coalesce(
            F.sum("cap").over(wo.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0).cast("bigint"),
        ).alias("s_prev"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.expr(f"(total_true * {int(budget_num)}) div {int(budget_den)}").alias(
            "budget"
        ),
    )
    lvl = base.select(
        "stratum",
        "avail",
        "cap",
        "j",
        (F.col("n") - F.col("j") + 1).alias("k"),
        (F.col("budget") - F.col("s_prev")).alias("rem"),
    )
    star = lvl.withColumn(
        "jstar",
        F.min(F.when(F.col("cap") * F.col("k") > F.col("rem"), F.col("j"))).over(
            wall
        ),
    )
    star = star.select(
        "stratum",
        "avail",
        "cap",
        "j",
        "jstar",
        F.min(F.when(F.col("j") == F.col("jstar"), F.col("rem"))).over(wall).alias(
            "rem_star"
        ),
        F.min(F.when(F.col("j") == F.col("jstar"), F.col("k"))).over(wall).alias(
            "k_star"
        ),
    )
    flagged = star.select(
        "stratum",
        "avail",
        "cap",
        F.expr("rem_star div k_star").alias("lvl"),
        (F.col("rem_star") % F.col("k_star")).alias("leftover"),
        (F.col("jstar").isNull() | (F.col("j") < F.col("jstar"))).alias("capped"),
    )
    wu = Window.partitionBy("capped").orderBy(F.asc("stratum"))
    return flagged.select(
        "stratum",
        F.col("avail").cast("bigint").alias("avail_tokens"),
        F.col("cap").cast("bigint").alias("cap_tokens"),
        F.when(F.col("capped"), F.col("cap"))
        .otherwise(
            F.col("lvl")
            + F.when(F.row_number().over(wu) <= F.col("leftover"), F.lit(1)).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("alloc_tokens"),
        "capped",
    )
