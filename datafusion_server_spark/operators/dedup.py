"""Deduplication operators for LLM-training-data pipelines.

Beyond-reference operators (BASELINE.json north-star): exact dedup,
MinHash + LSH near-dup, SimHash, and n-gram Jaccard verification, all as
shuffle-conscious DataFrame compositions (no Python UDFs in the hot path
— every hash is ``md5`` evaluated JVM-side, so the whole plan stays in
whole-stage codegen).

Determinism contract: hashes are ``md5`` (identical in Spark and DuckDB),
tokenization is a literal single-space split, so the DuckDB oracle can
reproduce every value bit-for-bit.

Scale notes (100 TB):
- MinHash signatures/index rows are computed IN-ROW over the shingle
  array (r13) — a shuffle-free map; the signature build is scan-bound.
- LSH banding turns the O(n^2) pair search into a per-bucket self-join;
  bucket sizes are bounded by band width, and the band-value shuffle key
  is uniformly distributed (md5), so there is no skew hot-spot.
- Exact dedup is a hash groupBy on md5(text) — never a sort.
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datafusion_server_spark.operators.scale import (
    ensure_fanout_parallelism,
    quote_ident,
)

DEFAULT_NUM_HASHES = 16
DEFAULT_SHINGLE_WORDS = 3


def _word_shingles_sql(col_sql: str, k: int) -> str:
    """Word k-gram shingles of a single-space-tokenized text column, as
    SQL text over a column REFERENCE (or any SQL fragment), parsed
    JVM-side in one ``F.expr`` call.

    Built as ARRAYS_ZIP of k shifted slices, NOT element_at(words, i+j)
    inside a transform lambda: Catalyst's CollapseProject inlines the
    split() into every element_at, making the lambda O(words^2) per doc
    (measured 7.6x slower at sf0.1). The slice form evaluates split() a
    constant number of times per row. ARRAYS_ZIP names unnamed inputs by
    positional index, hence the ``s['j']`` field access."""
    words = f"SPLIT({col_sql}, ' ')"
    m = f"GREATEST(SIZE({words}) - {k - 1}, 0)"
    slices = ", ".join(f"SLICE({words}, {j + 1}, {m})" for j in range(k))
    fields = ", ".join(f"s['{j}']" for j in range(k))
    return f"TRANSFORM(ARRAYS_ZIP({slices}), s -> CONCAT_WS(' ', {fields}))"


def exact_duplicates(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup via hash groupBy: one row per distinct text with the
    keeper (min id) and the duplicate count. Output: (keep_id, n_copies,
    text_hash)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(F.col(id_col)).cast("bigint").alias("keep_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        )
        .select("keep_id", "n_copies", "text_hash")
    )


def shingle_sets(df: DataFrame, text_col: str, id_col: str, k: int = DEFAULT_SHINGLE_WORDS) -> DataFrame:
    """Distinct (id, shingle) pairs — the set representation used by both
    MinHash and exact-Jaccard verification."""
    df = ensure_fanout_parallelism(df)
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.expr(f"EXPLODE({_word_shingles_sql(quote_ident(text_col), k)}) AS shingle"),
        )
        .distinct()
    )


def _inrow_slice_layers(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(id, ha, hb): per-document ARRAYS of the two 32-bit md5 slices of
    every shingle (r13 restructure of the exploded hash-slice projection). A pure map over one row per document: no shingle
    explode, no element shuffle, so at 100 TB the signature build is
    scan-bound. Each layer's array is referenced more than once
    downstream, so CollapseProject keeps the md5/slice projections
    evaluated once per shingle, exactly like the exploded projection.
    Documents with no shingles (< k words) are dropped, matching the
    grouped form's absent-group semantics."""
    ws = _word_shingles_sql(quote_ident(text_col), k)
    return (
        df.selectExpr(f"{quote_ident(id_col)} AS id", f"{ws} AS ws")
        .where("SIZE(ws) > 0")
        .selectExpr("id", "TRANSFORM(ws, s -> MD5(s)) AS hx")
        .selectExpr(
            "id",
            "TRANSFORM(hx, h -> CAST(CONV(SUBSTRING(h, 1, 8), 16, 10) AS BIGINT)) AS ha",
            "TRANSFORM(hx, h -> CAST(CONV(SUBSTRING(h, 9, 8), 16, 10) AS BIGINT)) AS hb",
        )
    )


def _inrow_min_exprs(num_hashes: int) -> list[str]:
    """The ``num_hashes`` MinHash minima over the (ha, hb) slice arrays:
    ``mh_i = ARRAY_MIN((ha + i*hb) % 2^32)`` — same one-base-hash +
    linear-perturbation values as the old grouped form, min over the array
    instead of a grouped MIN (duplicate-insensitive either way)."""
    return [
        f"ARRAY_MIN(ZIP_WITH(ha, hb, (x, y) -> (x + {i} * y) % 4294967296)) AS mh{i}"
        for i in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    k: int = DEFAULT_SHINGLE_WORDS,
) -> DataFrame:
    """MinHash signature per document: ``mh_i = min(slice_i(md5(shingle)))``
    computed IN-ROW over the shingle array (``_inrow_slice_layers``):
    no explode and no shuffle, with values identical to the exploded
    form (A/B in PLANS.md, "Round-13 (optimization round 1) closing
    stamp"). md5-slice minima are uniform-random over shingles, which
    is all MinHash needs.
    """
    df = ensure_fanout_parallelism(df)
    return _inrow_slice_layers(df, text_col, id_col, k).selectExpr(
        "id", *_inrow_min_exprs(num_hashes)
    )


def lsh_bands(signatures: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """Banding: concat each band's signature slice into one bucket key.
    Output: (id, band, bucket)."""
    # inline() explodes straight into (band, bucket) columns in ONE
    # F.expr call (vs ~10 py4j calls per band composing struct/concat_ws)
    return signatures.select(
        "id",
        F.expr(
            "inline(array("
            + ", ".join(
                f"struct({b} AS band, CONCAT_WS('|', "
                + ", ".join(f"mh{b * rows_per_band + r}" for r in range(rows_per_band))
                + ") AS bucket)"
                for b in range(bands)
            )
            + "))"
        ),
    )


def lsh_signature_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    k: int = DEFAULT_SHINGLE_WORDS,
    *,
    materialize: bool = True,
) -> DataFrame:
    """The persistable MinHash-LSH index table: (id, mh0..mh{n-1}, sh
    sorted-distinct 60-bit shingle-hash array, n_sh). Every column is
    computed IN-ROW over the shingle array — a shuffle-free map (r13;
    see the body comment). At 100 TB this table
    is written once per corpus snapshot and reused by every later
    self-dedup or incremental-batch run (``lsh_pairs_against_index``) —
    the index-build/probe split that makes daily ingest linear in the
    BATCH, not the corpus. ``materialize`` eager-localCheckpoints it
    (one row per document).

    The ``sh`` set stores 60-bit shingle HASHES, not strings: the first
    15 hex chars of the same single md5 the minima consume, assembled
    arithmetically from the two already-projected 32-bit slices
    (``a * 2^28 + b div 16``), so no extra hash evaluation. Hashed-set
    verification is the standard large-scale dedup shape (cf. the
    suffix/minhash dedup literature): the per-doc arrays shrink ~4x
    (bigint vs ~30-char strings), the checkpoint/staging write shrinks
    with them, and ``array_intersect`` compares 8-byte values instead
    of strings. A pair's hashed-intersection differs from its true
    string intersection only on a 60-bit collision within that pair's
    union (P < |union|^2 / 2^61 — at 10^6 distinct shingles ~5e-7, and
    deterministic); the DuckDB oracles intentionally KEEP string-exact
    intersections, so every gate run doubles as an empirical
    no-collision proof at fixture scale."""
    df = ensure_fanout_parallelism(df)
    # r13 restructure: the whole index row is computed IN-ROW over the
    # shingle array (``_inrow_slice_layers``) — a pure map, where the
    # old shape exploded the shingle stream and shuffled it into a
    # 16-min + collect_set aggregation. Same md5 slices, same minima,
    # SORT_ARRAY(ARRAY_DISTINCT(...)) instead of a sorted COLLECT_SET
    # for the 60-bit hash set: identical values (A/B in PLANS.md,
    # "Round-13 (optimization round 1) closing stamp"), and at 100 TB
    # the index build is scan-bound with no shuffle at all.
    sigs = _inrow_slice_layers(df, text_col, id_col, k).selectExpr(
        "id",
        *_inrow_min_exprs(num_hashes),
        "SORT_ARRAY(ARRAY_DISTINCT(ZIP_WITH(ha, hb, (x, y) -> "
        "x * 268435456 + SHIFTRIGHT(y, 4)))) AS sh",
    )
    if materialize:
        sigs = sigs.localCheckpoint(eager=True)
    return sigs.selectExpr("*", "CAST(SIZE(sh) AS BIGINT) AS n_sh")


def lsh_pairs_against_index(
    new_df: DataFrame,
    index: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = 4,
    k: int = DEFAULT_SHINGLE_WORDS,
    *,
    materialize: bool = True,
    index_bucket_cap: int | None = None,
    bucket_cap_observation=None,
) -> DataFrame:
    """INCREMENTAL near-dup detection: candidates of a NEW document
    batch against an EXISTING ``lsh_signature_index`` table, verified
    with exact shingle-set Jaccard. Output: (new_id, index_id, n_common,
    n_new, n_index, jaccard); same-id pairs are excluded (a re-ingested
    identical document is an exact-dedup concern, not a near-dup one).

    Scale notes (100 TB corpus + daily batch): only the BATCH is
    shingled and signed; the corpus side is the pre-built index read
    from storage. The band join keys on (band, bucket) — the batch side
    is small, so the join broadcasts it and the index is streamed; cost
    is linear in batch size plus one index scan, never corpus x corpus.

    ``index_bucket_cap`` (r12, OPT-IN — default None) applies the
    ``cap_bucket_members`` guard to the INDEX side: a degenerate corpus
    bucket (boilerplate that survived exact dedup) otherwise multiplies
    EVERY matching batch document by the bucket's full population.
    Unlike the self-join cap, a drop here has no connected-components
    downstream to reunite through, so capping trades recall against the
    dropped members for bounded fan-out — which is why it stays opt-in
    while ``lsh_candidate_pairs`` defaults to auto. Deterministic
    smallest-id keeps, Observation-logged drops, same as the self-join
    guard."""
    rows_per_band = num_hashes // bands
    new_sigs = lsh_signature_index(
        new_df, text_col, id_col, num_hashes, k, materialize=materialize
    )
    nb = lsh_bands(new_sigs, bands, rows_per_band).select(
        F.col("id").alias("new_id"), "band", "bucket"
    )
    ib_raw = lsh_bands(index, bands, rows_per_band)
    if index_bucket_cap is not None:
        ib_raw = cap_bucket_members(
            ib_raw, index_bucket_cap, observation=bucket_cap_observation
        )
    ib = ib_raw.select(
        F.col("id").alias("index_id"), "band", "bucket"
    )
    pairs = (
        nb.join(ib, ["band", "bucket"])
        .filter(F.col("new_id") != F.col("index_id"))
        .select("new_id", "index_id")
        .distinct()
    )
    new_sets = new_sigs.select(
        F.col("id").alias("new_id"), F.col("sh").alias("sh_n"), F.col("n_sh").alias("n_new")
    )
    idx_sets = index.select(
        F.col("id").alias("index_id"), F.col("sh").alias("sh_i"), F.col("n_sh").alias("n_index")
    )
    return (
        pairs.join(new_sets, "new_id")
        .join(idx_sets, "index_id")
        .select(
            "new_id",
            "index_id",
            F.expr("CAST(SIZE(ARRAY_INTERSECT(sh_n, sh_i)) AS BIGINT) AS n_common"),
            "n_new",
            "n_index",
            F.expr(
                "ROUND(CAST(SIZE(ARRAY_INTERSECT(sh_n, sh_i)) AS DOUBLE) / "
                "CAST(n_new + n_index - CAST(SIZE(ARRAY_INTERSECT(sh_n, sh_i))"
                " AS BIGINT) AS DOUBLE), 6) AS jaccard"
            ),
        )
    )


# monotone counter for default observe-metric names: two capped LSH
# pipelines composed in ONE query (e.g. a UNION) must not collide.
# itertools.count (r12, ADVICE): next() is atomic under the GIL, so
# concurrent server threads building capped pipelines cannot race a
# read-modify-write into duplicate names.
_BUCKET_CAP_SEQ = itertools.count(1)


def cap_bucket_members(
    banded: DataFrame,
    max_bucket_members: int,
    *,
    observation=None,
) -> DataFrame:
    """Hot-bucket guard for the band self-join (r9 verdict #3): bound
    per-(band, bucket) membership at ``max_bucket_members`` so a
    degenerate bucket (mass-duplicated boilerplate that survived exact
    dedup) cannot make the a×b join quadratic in that bucket's
    population — the same bounded-candidate discipline as
    ``similarity.scaled_lsh_ann_topk``'s per-query cap.

    Members are kept deterministically (smallest ids first), so the
    survivors of a capped bucket are stable across runs and partitions;
    a capped bucket still yields cap*(cap-1)/2 candidate pairs linking
    all kept members, and downstream connected components reunite the
    cluster through those. The drop count is LOGGED, not silent
    (no-silent-caps rule): pass a ``pyspark.sql.Observation`` to read
    ``dropped``/``kept`` after the action, or rely on the named
    ``observe`` metric ("lsh_bucket_cap_N") a QueryExecutionListener
    sees — the default name carries a per-call counter (r11 ADVICE)
    because Spark's CheckAnalysis rejects duplicate observed-metric
    names in one query, e.g. a UNION of two capped pipelines. The
    window shuffles by the same (band, bucket) key the candidate join
    hashes on, so it adds no new exchange width."""
    cap = int(max_bucket_members)
    guarded = banded.selectExpr(
        "*",
        "ROW_NUMBER() OVER (PARTITION BY band, bucket ORDER BY id ASC) AS __bm",
    )
    metrics = [
        F.expr(
            f"CAST(SUM(CASE WHEN __bm > {cap} THEN 1 ELSE 0 END) AS BIGINT)"
            " AS dropped"
        ),
        F.expr(
            f"CAST(SUM(CASE WHEN __bm <= {cap} THEN 1 ELSE 0 END) AS BIGINT)"
            " AS kept"
        ),
    ]
    if observation is None:
        observation = f"lsh_bucket_cap_{next(_BUCKET_CAP_SEQ)}"
    guarded = guarded.observe(observation, *metrics)
    return guarded.where(f"__bm <= {cap}").drop("__bm")


def auto_bucket_cap(
    n_docs: int,
    pairs_per_doc: int = 32,
    *,
    floor: int = 256,
    ceiling: int = 65536,
) -> int:
    """Stats-derived default for the LSH hot-bucket cap (r12 verdict
    task 3): size the per-(band, bucket) membership bound so the WORST
    CASE candidate-pair count stays linear in the corpus — one
    degenerate bucket of ``cap`` members yields cap*(cap-1)/2 pairs, so
    ``cap = sqrt(2 * pairs_per_doc * n)`` bounds that single bucket's
    fan-out at ``pairs_per_doc * n`` pairs. The floor keeps small-corpus
    runs (fixtures, unit tests) effectively uncapped — no legitimate
    near-dup cluster at that scale approaches 256 same-bucket members —
    and the ceiling bounds the window-state row_number must scan per
    bucket at petabyte scale. Same log2-granular-knob philosophy as
    ``similarity.lsh_band_bits``: a 2x row-count estimate error moves
    the cap by only sqrt(2)."""
    import math

    return max(floor, min(ceiling, math.isqrt(2 * pairs_per_doc * max(n_docs, 1)) + 1))


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = 4,
    k: int = DEFAULT_SHINGLE_WORDS,
    *,
    materialize: bool = True,
    max_bucket_members: int | None | str = "auto",
    bucket_cap_observation=None,
) -> DataFrame:
    """Near-duplicate candidate pairs: documents sharing >=1 LSH band
    bucket, verified with exact shingle-set Jaccard. Output:
    (id_a, id_b, n_common, n_a, n_b, jaccard).

    Plan shape (round-3 restructure — the round-2 shape checkpointed the
    LARGE exploded shingle stream and re-joined it twice to count
    intersections, which the round-2 bench showed regressing): the heavy
    data is touched by exactly ONE wide operation. The grouped
    aggregation computes, per document, the minhash minima AND the sorted
    distinct shingle array (``collect_set``), so:

    - no pre-aggregation ``distinct`` shuffle on the shingle stream
      (min/collect_set are duplicate-insensitive; n_sh = size(set));
    - the intersection count is ``size(array_intersect(sh_a, sh_b))`` on
      the candidate pairs — an in-row hash-set op in whole-stage codegen,
      replacing two exploded-shingle joins plus a groupBy plus a left
      join;
    - ``materialize`` (default True) eager-localCheckpoints the per-doc
      signature table (one row per document — orders of magnitude fewer
      rows than the shingle stream) so its three consumers (banding and
      both pair sides) read executor-local blocks instead of re-running
      the explode+aggregate. At 100 TB this is a staging write of the
      signature table, the standard MinHash-LSH shape.

    Results are identical to the round-2 plan (deterministic md5 math,
    same set semantics).

    ``max_bucket_members`` (default ``"auto"`` — r12 verdict task 3)
    engages the ``cap_bucket_members`` hot-bucket guard: exact dedup
    upstream normally bounds bucket skew, but a boilerplate-heavy
    corpus can still funnel near-identical documents into one (band,
    bucket) and make the candidate join quadratic in duplication
    density (measured at sf10: 27.2M uncapped candidate pairs vs 6.8k
    capped, 29.8 s vs 17.6 s wall). ``"auto"`` derives the cap from
    Catalyst row-count stats via ``auto_bucket_cap`` (job-free, the
    same source ``scaled_lsh_ann_topk`` sizes its band bits from); any
    bucket under the cap is untouched, so small corpora see identical
    results. Pass an int to pin the cap, or ``None`` to opt OUT into
    the unbounded join (exact parity with the all-pairs oracle even
    under adversarial duplication). Drops are Observation-logged,
    never silent."""
    rows_per_band = num_hashes // bands
    sigs = lsh_signature_index(
        df, text_col, id_col, num_hashes, k, materialize=materialize
    )
    banded = lsh_bands(sigs, bands, rows_per_band)
    if max_bucket_members == "auto":
        from datafusion_server_spark.operators.similarity import (
            estimate_row_count,
        )

        # 256 B/row: Catalyst sizeInBytes is COMPRESSED parquet size and
        # web text compresses ~8-10x, so ~2 KB raw documents scan at a
        # few hundred bytes each (sf10 probe: 500k docs -> 57 MB file).
        # A 2x mis-estimate moves the sqrt-derived cap only 1.4x.
        max_bucket_members = auto_bucket_cap(estimate_row_count(df, 256))
    if max_bucket_members is not None:
        # r13 (optimization): fused cap + in-row pair expansion. The old
        # shape self-joined the capped band stream, which planned the
        # whole explode->Exchange->Sort->Window cap pipeline TWICE (the
        # broadcast side cannot reuse the probe side's exchange). Since
        # the cap window already shuffles and sorts by (band, bucket),
        # a groupBy on the same key aggregates WITHOUT a new exchange;
        # per-bucket kept members (<= cap, so the collect buffer is
        # bounded by the cap's 65536 ceiling, ~512 KB worst case) expand
        # to ordered i<j pairs. One banding pipeline instead of two, no
        # broadcast of the band stream, no join — identical pairs (kept
        # set unchanged; sorted-array expansion emits exactly the
        # a.id < b.id pairs the join produced).
        # r14 (ADVICE): the expansion STREAMS in two Generate stages —
        # POSEXPLODE picks each left member, then EXPLODE over a SLICE
        # of the ids array yields its greater partners — so the peak
        # per-row buffer is one ids array + one slice (<= cap longs,
        # ~512 KB at the 65536 ceiling). The r13 single-expression form
        # (INLINE(FLATTEN(TRANSFORM(..)))) materialized ALL
        # cap*(cap-1)/2 pair structs of a bucket as one in-memory array
        # before exploding — ~2.1e9 structs for a ceiling-capped bucket,
        # an executor OOM the old self-join never risked. The
        # id_a != id_b guard keeps the old join's strict-inequality
        # contract even under duplicate-id input (sorted positions would
        # otherwise emit (x, x) self-pairs).
        capped = cap_bucket_members(
            banded, max_bucket_members, observation=bucket_cap_observation
        )
        pairs = (
            capped.groupBy("band", "bucket")
            .agg(F.expr("SORT_ARRAY(COLLECT_LIST(id)) AS ids"))
            .selectExpr("ids", "POSEXPLODE(ids) AS (__i, id_a)")
            .selectExpr(
                "id_a",
                "EXPLODE(SLICE(ids, __i + 2, SIZE(ids))) AS id_b",
            )
            .where("id_a != id_b")
            .distinct()
        )
    else:
        # unbounded opt-out: keep the self-join shape — a degenerate
        # bucket's members stream through the join rather than
        # materializing one unbounded collect buffer per bucket.
        a = banded.alias("a")
        b = banded.alias("b")
        pairs = (
            a.join(b, F.expr("a.band = b.band AND a.bucket = b.bucket AND a.id < b.id"))
            .select(F.expr("a.id AS id_a"), F.expr("b.id AS id_b"))
            .distinct()
        )
    sets_a = sigs.select(F.expr("id AS id_a"), F.expr("sh AS sh_a"), F.expr("n_sh AS n_a"))
    sets_b = sigs.select(F.expr("id AS id_b"), F.expr("sh AS sh_b"), F.expr("n_sh AS n_b"))
    return (
        pairs.join(sets_a, "id_a")
        .join(sets_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.expr("CAST(SIZE(ARRAY_INTERSECT(sh_a, sh_b)) AS BIGINT) AS n_common"),
            "n_a",
            "n_b",
            F.expr(
                "ROUND(CAST(SIZE(ARRAY_INTERSECT(sh_a, sh_b)) AS DOUBLE) / "
                "CAST(n_a + n_b - CAST(SIZE(ARRAY_INTERSECT(sh_a, sh_b)) AS BIGINT)"
                " AS DOUBLE), 6) AS jaccard"
            ),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = DEFAULT_SHINGLE_WORDS,
    threshold: float = 0.5,
    *,
    max_shingle_df: int = 100,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs WITHOUT MinHash approximation:
    every document pair sharing >=1 (rare-enough) shingle is scored by
    true shingle-set Jaccard; pairs >= ``threshold`` survive. Output:
    (id_a, id_b, n_common, n_a, n_b, jaccard).

    Semantics: Jaccard over each document's INFORMATIVE shingle set —
    shingles with document frequency <= ``max_shingle_df``. Boilerplate
    n-grams shared by more documents than the cap are excluded from both
    the intersection and the set sizes (they carry no near-dup signal:
    true near-dups also share rare shingles), which makes the whole
    computation a single self-join pass:

    - the per-shingle join fan-out is bounded at max_shingle_df^2 rows
      regardless of corpus size (the scale guard — an uncapped shared-
      shingle join is quadratic in the hottest shingle's frequency);
    - ``n_common`` falls directly out of the capped join's group-by (no
      separate candidate-verification pass over the full sets — measured
      60x faster than the verify-pass variant at sf0.1, identical output
      there since the fixture's max shingle frequency sits below the cap);
    - set sizes count the same capped sets, so the score is the exact
      Jaccard of the stated (filtered) sets."""
    shingled = shingle_sets(df, text_col, id_col, k)
    rare = shingled.join(
        shingled.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_sh")).filter(
            F.col("df_sh") <= max_shingle_df
        ).select("shingle"),
        "shingle",
    )
    sized = rare.join(
        rare.groupBy("id").agg(F.count(F.lit(1)).cast("bigint").alias("n_sh")), "id"
    )
    common = (
        sized.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"), "shingle")
        .join(
            sized.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"), "shingle"),
            ["shingle"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    return common.select(
        "id_a",
        "id_b",
        "n_common",
        "n_a",
        "n_b",
        F.round(
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
            6,
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    *,
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components of the near-dup pair graph — the step that
    turns PAIRS into dedup CLUSTERS (a near-dup relation is transitive
    in practice: A~B and B~C must land in one cluster so one survivor is
    kept). Output: (node, component) with component = min node id
    reachable, the canonical cluster label.

    Plan: min-label propagation. Each iteration joins current labels
    across the (undirected) edge set and takes the per-node min; the
    loop exits when an iteration changes no label. Iteration count is
    the graph diameter, which for near-dup clusters is tiny (clusters
    are dense cliques from banding, diameter 1-2), NOT corpus-scale —
    the driver-side loop is over ITERATIONS, never rows. Each iteration
    is one join + one groupBy, localCheckpointed so the next iteration's
    lineage starts flat (at cluster scale: checkpoint to HDFS/S3 — the
    standard iterative-graph shape; swap in large-star/small-star if a
    pathological diameter appears).
    """
    e_fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = e_fwd.union(
        e_fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    edges = edges.localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("node")).distinct().withColumn("label", F.col("node"))
    ).localCheckpoint(eager=True)
    from pyspark.sql import Observation

    converged = False
    for _ in range(max_iterations):
        propagated = labels.join(edges, labels["node"] == edges["src"]).select(
            F.col("dst").alias("node"), F.col("label")
        )
        new_agg = (
            labels.select("node", "label")
            .union(propagated)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # r14 (guide §1.2, job-count cut): the convergence check rides
        # the SAME job that materializes the checkpoint — an Observation
        # counts changed labels while the eager localCheckpoint runs,
        # replacing the separate join+count action each iteration paid
        # before (2 scheduled jobs/iteration -> 1). Labels are identical:
        # the old-label join is 1:1 (every labeled node appears in the
        # union's aggregation), so it adds no rows and drops none.
        obs = Observation()
        new_labels = (
            labels.select("node", F.col("label").alias("__old"))
            .join(new_agg, "node")
            .observe(
                obs,
                F.sum((F.col("label") != F.col("__old")).cast("bigint")).alias(
                    "changed"
                ),
            )
            .select("node", "label")
            .localCheckpoint(eager=True)
        )
        changed = obs.get["changed"] or 0
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        # silently-wrong labels are worse than failing: a component wider
        # than max_iterations hops would keep >1 survivor undetected
        raise RuntimeError(
            f"connected_components did not converge within {max_iterations} "
            "iterations (graph diameter exceeds the budget); raise "
            "max_iterations or switch to large-star/small-star"
        )
    return labels.select("node", F.col("label").alias("component"))


def dedup_clusters(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = 4,
    k: int = DEFAULT_SHINGLE_WORDS,
    threshold: float = 0.5,
) -> DataFrame:
    """End-to-end fuzzy-dedup clustering: LSH candidate pairs -> Jaccard
    threshold -> connected components -> per-cluster summary. Output:
    (component, n_members, keep_id) — keep_id is the cluster's min id,
    the survivor a dedup pipeline materializes."""
    pairs = lsh_candidate_pairs(df, text_col, id_col, num_hashes, bands, k).filter(
        F.col("jaccard") >= threshold
    )
    comp = connected_components(pairs)
    # the component label IS the min member id — the survivor
    return comp.groupBy(F.col("component").cast("bigint").alias("keep_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 32) -> DataFrame:
    """SimHash fingerprint: per token, bit_p = high-bit of md5 hex digit p;
    per document, majority vote over tokens. Output: (id, simhash) with
    simhash as a '0'/'1' string of length ``bits``.

    Single explode + single groupBy (all bit sums in one aggregation).
    """
    assert bits <= 32
    df = ensure_fanout_parallelism(df)
    # ONE F.expr per pipeline step (r13): the per-bit agg list cost ~260
    # py4j round-trips in plan construction; the 32 SUM aggregates now
    # ride inside a single CONCAT aggregation expression — the physical
    # aggregate evaluates the same 32 sums, the final projection is
    # merged into the agg's result expression.
    with_hash = df.selectExpr(
        f"{quote_ident(id_col)} AS id",
        f"EXPLODE(SPLIT({quote_ident(text_col)}, ' ')) AS tok",
    ).selectExpr("id", "MD5(tok) AS h")
    fingerprint = "CONCAT(" + ", ".join(
        f"CASE WHEN SUM(CASE WHEN SUBSTRING(h, {p + 1}, 1) >= '8'"
        f" THEN 1 ELSE -1 END) > 0 THEN '1' ELSE '0' END"
        for p in range(bits)
    ) + ") AS simhash"
    return with_hash.groupBy("id").agg(F.expr(fingerprint))


def prefix_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = DEFAULT_SHINGLE_WORDS,
    threshold: float = 0.5,
    *,
    materialize: bool = True,
) -> DataFrame:
    """Threshold set-similarity join by PREFIX FILTERING (the
    PPJoin/AllPairs family, Bayardo et al. 2007 / Xiao et al. 2008),
    exact up to a bounded hash-collision probability: candidate
    GENERATION (prefix bound, set sizes, Jaccard denominator) is
    string-exact and misses nothing; only the per-pair intersection
    size runs on 60-bit shingle hashes, so a reported pair's
    ``n_common``/``jaccard`` can err only on a 60-bit collision within
    that pair's union (P < |union|²/2^61 per pair — zero observed
    across every oracle gate, which verifies string-exactly). Unlike
    LSH there is no recall loss by construction, and unlike
    ``ngram_jaccard_pairs`` no df cap is needed to stay sub-quadratic.

    The bound: order every document's shingle set by GLOBAL document
    frequency ascending (rarest first, ties lexicographic) and keep only
    the first ``|s| - ceil(t * |s|) + 1`` shingles as its PREFIX. Any
    pair with Jaccard >= t must overlap in >= ceil(t * |s|) shingles of
    EITHER set, so skipping more than |s| - ceil(t*|s|) shingles of one
    set cannot leave enough overlap — two qualifying sets MUST share a
    prefix shingle. Candidates therefore come from a self-join of the
    (much smaller, rare-token-heavy) prefix stream only; exact Jaccard
    verification runs on candidates alone. Output: (id_a, id_b,
    n_common, n_a, n_b, jaccard) with jaccard >= threshold — PROVABLY
    identical to the all-pairs join (asserted in tests).

    Scale shape (100 TB): one df aggregation; one per-doc window to rank
    shingles (keyed by doc); the candidate self-join keys on PREFIX
    shingles, whose global frequencies are the corpus's LOWEST — the
    frequency-ascending order is precisely what keeps the join fan-out
    small. Verification (r12 rewrite — the sf1 incident): the ORIGINAL
    verify pass re-joined candidate pairs against the full exploded
    shingle stream, i.e. pairs × set-size rows — quadratic in
    duplication density, and at 10× scale on a near-dup-dense corpus
    the shuffle spill filled the disk. Now each candidate pair is
    verified IN-ROW against per-doc sorted 60-bit shingle-hash arrays
    (``size(array_intersect(...))`` in whole-stage codegen) — the same
    shape ``lsh_candidate_pairs`` adopted in r3: rows touched =
    |pairs|, not |pairs| × |set|. The hashes reuse the single per-row
    md5 (first 15 hex chars); a pair's hashed intersection differs
    from the true string intersection only on a 60-bit collision
    within that pair's union (P < |union|²/2^61), and the DuckDB
    oracle intentionally KEEPS string-exact verification, so every
    gate run doubles as an empirical no-collision proof. ``n_sh`` (r13,
    ADVICE) is the distinct-STRING shingle count — NOT the hashed-array
    length — so an intra-doc hash collision can never shrink the prefix
    length (which would silently DROP a true pair) or skew the Jaccard
    denominator; hashes touch nothing but the intersection.
    ``materialize`` eager-localCheckpoints the per-doc array table and
    the candidate set (real sizes for join planning; no subplan
    re-execution)."""
    from pyspark.sql.window import Window

    shingled = shingle_sets(df, text_col, id_col, k)
    dfreq = shingled.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("bigint").alias("__df")
    )
    sets = shingled.groupBy("id").agg(
        F.expr(
            "SORT_ARRAY(COLLECT_SET(CAST(CONV(SUBSTRING(MD5(shingle), 1, 15),"
            " 16, 10) AS BIGINT))) AS sh"
        ),
        # exact distinct-STRING count (r13 ADVICE): prefix length and
        # Jaccard denominator must not depend on the hashed array, whose
        # length an intra-doc collision can shrink
        F.expr("CAST(COUNT(DISTINCT shingle) AS BIGINT) AS n_sh"),
    )
    if materialize:
        sets = sets.localCheckpoint(eager=True)
    sized = shingled.join(sets.select("id", "n_sh"), "id")
    ranked = (
        sized.join(dfreq, "shingle")
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("id").orderBy(
                    F.col("__df").asc(), F.col("shingle").asc()
                )
            ),
        )
    )
    prefix = ranked.filter(
        F.col("__rn") <= F.col("n_sh") - F.ceil(threshold * F.col("n_sh")) + 1
    ).select("id", "shingle")
    cand = (
        prefix.select(F.col("id").alias("id_a"), "shingle")
        .join(prefix.select(F.col("id").alias("id_b"), "shingle"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    if materialize:
        cand = cand.localCheckpoint(eager=True)
    return (
        cand.join(
            sets.select(
                F.col("id").alias("id_a"), F.col("sh").alias("sh_a"),
                F.col("n_sh").alias("n_a"),
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col("id").alias("id_b"), F.col("sh").alias("sh_b"),
                F.col("n_sh").alias("n_b"),
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.expr("CAST(SIZE(ARRAY_INTERSECT(sh_a, sh_b)) AS BIGINT) AS n_common"),
            "n_a",
            "n_b",
            F.expr(
                "ROUND(CAST(SIZE(ARRAY_INTERSECT(sh_a, sh_b)) AS DOUBLE) / "
                "CAST(n_a + n_b - CAST(SIZE(ARRAY_INTERSECT(sh_a, sh_b))"
                " AS BIGINT) AS DOUBLE), 6) AS jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def idf_weighted_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = DEFAULT_SHINGLE_WORDS,
    threshold: float = 0.4,
    *,
    max_shingle_df: int = 100,
) -> DataFrame:
    """IDF-WEIGHTED set similarity — the soft upgrade of the capped
    Jaccard join: each shingle contributes its corpus idf
    ``round(ln(N/df), 8)`` instead of 1, so two docs sharing RARE
    shingles score higher than two sharing boilerplate (raw Jaccard
    treats both alike):

        sim = sum_{shared} idf / (sum_a idf + sum_b idf - sum_{shared} idf)

    Same df-cap scale guard as ``ngram_jaccard_pairs`` (the capped set
    is also what the weights make nearly irrelevant — capped-out
    shingles would carry the LOWEST idf). Output: (id_a, id_b,
    w_common, w_a, w_b, wjaccard >= threshold), weights rounded DECIMAL
    sums cast to double (rounded 6)."""
    shingled = shingle_sets(df, text_col, id_col, k)
    n_docs = df.select(F.count(F.lit(1)).cast("double").alias("__n"))
    dfreq = (
        shingled.groupBy("shingle")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__df"))
        .filter(F.col("__df") <= max_shingle_df)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "shingle",
            F.round(F.log(F.col("__n") / F.col("__df")), 8)
            .cast("decimal(18,8)")
            .alias("__idf"),
        )
    )
    weighted = shingled.join(dfreq, "shingle")
    sums = weighted.groupBy("id").agg(F.sum("__idf").alias("__w"))
    sized = weighted.join(sums, "id")
    common = (
        sized.select(
            F.col("id").alias("id_a"), F.col("__w").alias("__wa"), "shingle", "__idf"
        )
        .join(
            sized.select(
                F.col("id").alias("id_b"), F.col("__w").alias("__wb"), "shingle"
            ),
            "shingle",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "__wa", "__wb")
        .agg(F.sum("__idf").alias("__wc"))
    )
    wc = F.col("__wc").cast("double")
    wa = F.col("__wa").cast("double")
    wb = F.col("__wb").cast("double")
    return common.select(
        "id_a",
        "id_b",
        F.round(wc, 6).alias("w_common"),
        F.round(wa, 6).alias("w_a"),
        F.round(wb, 6).alias("w_b"),
        F.round(wc / (wa + wb - wc), 6).alias("wjaccard"),
    ).filter(F.col("wjaccard") >= threshold)


def _positional_word_grams(df: DataFrame, text_col: str, id_col: str, l: int) -> DataFrame:
    """(id, pos, gh): md5 of each word l-gram with its 1-based start
    position — the shingles of ``_word_shingles_sql`` with positions
    (same shifted-slice construction, so the split() is evaluated a
    constant number of times per row; ``posexplode`` supplies the
    position)."""
    words = F.split(F.col(text_col), " ")
    m = F.greatest(F.size(words) - (l - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(words, j + 1, m) for j in range(l)])
    grams = F.transform(zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(l)]))
    return (
        df.select(F.col(id_col).alias("id"), F.posexplode(grams).alias("p0", "gram"))
        .select("id", (F.col("p0") + 1).alias("pos"), F.md5("gram").alias("gh"))
    )


def duplicate_ngram_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    l: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Maximal duplicated substring spans, the ExactSubstr dedup signal
    (Lee et al. 2021, arXiv:2107.06499 — "Deduplicating Training Data
    Makes Language Models Better"): a word position is DUPLICATED when
    the l-gram starting there occurs >= ``min_count`` times corpus-wide
    (including within one document, like the suffix-array method);
    consecutive duplicated positions merge into maximal spans via the
    gaps-and-islands window. Output: (id, span_start, span_end,
    n_words) in 1-based word positions, span_end inclusive covering the
    final gram's last word.

    Scale shape (100 TB): the gram stream is touched by ONE
    count-over-gram-hash shuffle (md5 keys — uniform, no skew hot-spot)
    and one per-document window — the same two-shuffle budget as the
    MinHash signature pass; no self-join, no quadratic pair work. The
    suffix-array construction of the paper is replaced by the fixed-l
    gram equivalence: a duplicated span of length >= l words is exactly
    a maximal run of duplicated l-gram start positions.
    """
    df = ensure_fanout_parallelism(df)
    grams = _positional_word_grams(df, text_col, id_col, l)
    cnt_w = Window.partitionBy("gh")
    dup = grams.withColumn("__n", F.count(F.lit(1)).over(cnt_w)).filter(
        F.col("__n") >= min_count
    )
    run_w = Window.partitionBy("id").orderBy("pos")
    runs = dup.withColumn("__grp", F.col("pos") - F.row_number().over(run_w))
    return (
        runs.groupBy("id", "__grp")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + (l - 1)).cast("bigint").alias("span_end"),
        )
        .select(
            "id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("n_words"),
        )
    )


def duplicate_span_fraction(
    df: DataFrame,
    text_col: str,
    id_col: str,
    l: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Per-document duplicated-content fraction — the ExactSubstr
    KEEP/TRIM decision signal: the fraction of words COVERED by
    duplicated spans. Two maximal runs of duplicated l-gram start
    positions whose starts are fewer than ``l`` apart produce word-
    OVERLAPPING spans (l=8, duplicated positions {1,3} -> [1,8] and
    [3,10]); summing span lengths would double-count the overlap and
    could exceed 1.0. So coverage merges first: start positions are
    grouped into islands wherever the gap to the previous duplicated
    position is <= l-1 (their word spans touch or overlap), and each
    island covers exactly ``max(pos)+l-1 - min(pos)+1`` words —
    guaranteeing ``dup_fraction <= 1``. Documents with no duplicated
    span report 0.0. Output: (id, n_words, dup_words, dup_fraction)."""
    df_fan = ensure_fanout_parallelism(df)
    grams = _positional_word_grams(df_fan, text_col, id_col, l)
    cnt_w = Window.partitionBy("gh")
    dup = grams.withColumn("__n", F.count(F.lit(1)).over(cnt_w)).filter(
        F.col("__n") >= min_count
    )
    w = Window.partitionBy("id").orderBy("pos")
    isl = dup.withColumn("__prev", F.lag("pos").over(w)).withColumn(
        "__isl",
        F.sum(
            F.when(
                F.col("__prev").isNull()
                | (F.col("pos") - F.col("__prev") > l - 1),
                1,
            ).otherwise(0)
        ).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    cover = (
        isl.groupBy("id", "__isl")
        .agg((F.max("pos") + l - F.min("pos")).alias("covered"))
        .groupBy("id")
        .agg(F.sum("covered").cast("bigint").alias("dup_words"))
    )
    words = df.select(
        F.col(id_col).alias("id"),
        F.size(F.filter(F.split(F.col(text_col), " "), lambda w: w != "")).cast(
            "bigint"
        ).alias("n_words"),
    )
    return (
        words.join(cover, "id", "left")
        .select(
            "id",
            "n_words",
            F.coalesce(F.col("dup_words"), F.lit(0)).cast("bigint").alias("dup_words"),
            F.when(F.col("n_words") > 0,
                   F.round(
                       F.coalesce(F.col("dup_words"), F.lit(0)).cast("double")
                       / F.col("n_words").cast("double"),
                       6,
                   ))
            .otherwise(F.lit(0.0))
            .alias("dup_fraction"),
        )
    )


def duplicate_span_sources(
    df: DataFrame,
    text_col: str,
    id_col: str,
    l: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Cross-document ATTRIBUTION for duplicated spans: for each maximal
    span, how many OTHER documents carry its opening l-gram and which
    one (lowest other id) — the provenance column a reviewer needs to
    chase a boilerplate template or a repeat-offender source. Output:
    (id, span_start, span_end, n_words, n_other_docs, sample_partner);
    sample_partner is NULL when the duplication is purely
    intra-document (the gram recurs only inside the same doc).

    Scale shape: the per-gram attribution is all SCALAR aggregates —
    occurrence count, distinct-doc count, lowest and second-lowest doc
    id (two grouped minima, never a per-gram id list) — so the hot
    boilerplate gram carried by millions of documents aggregates to ONE
    bounded row instead of a collected array or a self-join; the span
    derivation reuses the two uniform-key shuffles of
    ``duplicate_ngram_spans``."""
    df = ensure_fanout_parallelism(df)
    grams = _positional_word_grams(df, text_col, id_col, l)
    cnt = grams.groupBy("gh").agg(F.count(F.lit(1)).alias("__n"))
    d = grams.select("gh", "id").distinct()
    g1 = d.groupBy("gh").agg(
        F.min("id").alias("__m1"), F.count(F.lit(1)).alias("__nd")
    )
    g2 = (
        d.join(g1.select("gh", "__m1"), "gh")
        .filter(F.col("id") > F.col("__m1"))
        .groupBy("gh")
        .agg(F.min("id").alias("__m2"))
    )
    per_gram = (
        cnt.filter(F.col("__n") >= min_count)
        .join(g1, "gh")
        .join(g2, "gh", "left")
    )
    dup = grams.join(per_gram.select("gh", "__nd", "__m1", "__m2"), "gh")
    run_w = Window.partitionBy("id").orderBy("pos")
    runs = dup.withColumn("__grp", F.col("pos") - F.row_number().over(run_w))
    opening = F.struct(F.col("pos"), F.col("__nd"), F.col("__m1"), F.col("__m2"))
    spans = runs.groupBy("id", "__grp").agg(
        F.min("pos").cast("bigint").alias("span_start"),
        (F.max("pos") + (l - 1)).cast("bigint").alias("span_end"),
        F.min(opening).alias("__open"),
    )
    partner = (
        F.when(F.col("id") != F.col("__open.__m1"), F.col("__open.__m1"))
        .otherwise(F.col("__open.__m2"))
    )
    return spans.select(
        "id",
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start") + 1).alias("n_words"),
        (F.col("__open.__nd") - 1).cast("bigint").alias("n_other_docs"),
        partner.cast("bigint").alias("sample_partner"),
    )


def cdc_chunks(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    gram: int = 8,
    mask: str = "0",
) -> DataFrame:
    """Content-defined chunking (the storage-dedup / crawl-blob-dedup
    primitive): cut a document AFTER every position whose trailing
    ``gram``-character window hashes into the mask (md5 hex prefix
    ``mask`` — one hex digit = expected chunk ~16 chars; real
    deployments use a longer gram and a wider mask for ~KB chunks).
    Because boundaries depend only on LOCAL content, an insertion
    early in a document shifts at most the chunk containing it —
    every later chunk re-aligns and still dedups (the property
    fixed-size blocking lacks, and the reason CDC is the standard for
    blob-level dedup).

    Unlike FastCDC's sequential min/max-length constraints, cuts here
    are PURELY content-defined (declarative, order-free) — documented
    difference, same re-alignment property.

    Plan shape: boundaries, bounds array, and chunk slicing are all
    IN-ROW array expressions (one md5 per character position — the
    same O(corpus chars) hashing budget as shingling); one explode
    follows. No shuffle until whatever aggregation the caller adds.

    Output: (id, chunk_idx 1-based, chunk, chunk_hash, chunk_len)."""
    g = int(gram)
    cuts = (
        f"filter(sequence(1, length(__t)), "
        f"i -> i >= {g} AND md5(substring(__t, i - {g - 1}, {g})) LIKE '{mask}%')"
    )
    staged = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("__t")
    ).withColumn(
        "__b",
        F.expr(f"concat(array(0), {cuts}, array(length(__t)))"),
    )
    chunks = (
        "filter(transform(sequence(1, size(__b) - 1), "
        "j -> substring(__t, element_at(__b, j) + 1, "
        "element_at(__b, j + 1) - element_at(__b, j))), c -> c <> '')"
    )
    ex = ensure_fanout_parallelism(staged).select(
        "id", F.posexplode(F.expr(chunks)).alias("__ci", "chunk")
    )
    return ex.select(
        "id",
        (F.col("__ci") + 1).cast("bigint").alias("chunk_idx"),
        "chunk",
        F.md5("chunk").alias("chunk_hash"),
        F.length("chunk").cast("bigint").alias("chunk_len"),
    )


def fuzzy_survivors_by_policy(
    df: DataFrame,
    text_col: str,
    id_col: str,
    policy_col: Column,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = 4,
    k: int = DEFAULT_SHINGLE_WORDS,
    threshold: float = 0.5,
) -> DataFrame:
    """Quality-aware fuzzy-dedup survivor selection (r8): real dedup
    pipelines keep the BEST member of a near-dup cluster (longest /
    highest quality score), not the smallest id. Clusters come from the
    same LSH pairs -> Jaccard threshold -> connected components chain
    as ``dedup_clusters``; within each cluster the survivor maximizes
    ``policy_col`` with ties to the SMALLEST id (deterministic).
    Output: (component, n_members, keep_id, keep_policy) — one row per
    cluster (unclustered docs have no cluster to summarize).

    Scale shape: everything through components is the dedup_clusters
    plan (banded self-join, min-label propagation); the survivor pick
    is ONE struct-max aggregation over the members table keyed by
    component — no windows, no per-cluster sorts.

    ``policy_col`` keeps its NATIVE type through the struct-max and
    into ``keep_policy`` (r9: the previous BIGINT cast silently
    truncated float quality scores in [0, 1] — the most common policy
    — degenerating the argmax; callers wanting a specific output type
    cast the column themselves)."""
    pairs = lsh_candidate_pairs(df, text_col, id_col, num_hashes, bands, k).filter(
        F.col("jaccard") >= threshold
    )
    comp = connected_components(pairs)
    members = comp.join(
        df.select(
            F.col(id_col).cast("bigint").alias("node"),
            policy_col.alias("__pol"),
        ),
        "node",
    )
    best = members.groupBy(F.col("component").cast("bigint").alias("component")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.max(F.struct(F.col("__pol").alias("p"), (-F.col("node")).alias("ni"))).alias(
            "__b"
        ),
    )
    return best.select(
        "component",
        "n_members",
        (-F.col("__b.ni")).cast("bigint").alias("keep_id"),
        F.col("__b.p").alias("keep_policy"),
    )
