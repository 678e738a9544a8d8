"""Value pins for the SQL-text expression helpers.

Hot operator helpers are built as SQL text delivered through one
``F.expr`` (plan construction is bound by py4j round-trips). The bench
rows' DuckDB oracles already prove end-to-end values; these tests pin
each helper against a plain-Python reference on randomized inputs, so
an edit cannot drift silently. Also: invariants of the LSH hot-bucket
cap, the in-row LSH codes, and SQL identifier/literal quoting.
"""

from __future__ import annotations

import math
import random
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from datafusion_server_spark.operators import dedup
from datafusion_server_spark.operators.similarity import (
    SCALE,
    _dot_scaled,
    _norm_sql,
)


def _rand_vecs(rng: random.Random, n: int, dim: int) -> list[tuple[int, list[float]]]:
    return [
        (i, [round(rng.uniform(-2.0, 2.0), 4) for _ in range(dim)])
        for i in range(n)
    ]


def _py_dot_scaled(va: list[float], vb: list[float]) -> int:
    """Spark rounds a double through its decimal repr, half up."""
    return sum(
        int(Decimal(repr(x * y * 1e12)).quantize(Decimal(1), ROUND_HALF_UP))
        for x, y in zip(va, vb)
    )


def test_dot_scaled_sql_matches_python_reference(spark):
    rng = random.Random(0xD07)
    rows = [
        (i, va, vb)
        for (i, va), (_, vb) in zip(_rand_vecs(rng, 64, 16), _rand_vecs(rng, 64, 16))
    ]
    df = spark.createDataFrame(
        rows, "id bigint, va array<double>, vb array<double>"
    )
    out = df.select(
        "va",
        "vb",
        _dot_scaled("va", "vb").alias("dot"),
        F.expr(f"{_norm_sql('va')} AS norm"),
    ).collect()
    for r in out:
        assert r.dot == _py_dot_scaled(r.va, r.vb)  # exact BIGINT equality
        assert r.norm == math.sqrt(_py_dot_scaled(r.va, r.va) / SCALE)


def test_word_shingles_sql_matches_python_reference(spark):
    rng = random.Random(0x5816)
    words = ["alpha", "beta", "gamma", "delta", "x", "longerword"]
    texts = [
        (" ".join(rng.choice(words) for _ in range(rng.randint(0, 12))),)
        for _ in range(80)
    ] + [("",), ("one",), ("one two",), ("one two three",)]
    df = spark.createDataFrame(texts, "text string")
    for k in (2, 3, 4):
        out = df.select(
            "text", F.expr(f"{dedup._word_shingles_sql('`text`', k)} AS sh")
        ).collect()
        for r in out:
            w = r.text.split(" ")
            assert r.sh == [" ".join(w[i : i + k]) for i in range(len(w) - k + 1)]


def test_bucket_cap_invariants_random_corpus(spark):
    """Capped pairs ⊆ uncapped pairs; per-(band,bucket) membership never
    exceeds the cap; dropped + kept == total memberships."""
    from pyspark.sql import Observation

    rng = random.Random(0xCA9)
    vocab = ["spark", "row", "scan", "agg", "table", "fast", "slow", "key"]
    rows = []
    for i in range(120):
        base = [rng.choice(vocab) for _ in range(10)]
        rows.append((i, " ".join(base)))
        if rng.random() < 0.4:  # force near-duplicate mass
            rows.append((1000 + i, " ".join(base[:-1] + [rng.choice(vocab)])))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    uncapped = {
        (r.id_a, r.id_b)
        for r in dedup.lsh_candidate_pairs(
            docs, "text", "doc_id", materialize=False
        ).collect()
    }
    obs = Observation()
    capped_df = dedup.lsh_candidate_pairs(
        docs, "text", "doc_id", materialize=False,
        max_bucket_members=3, bucket_cap_observation=obs,
    )
    capped = {(r.id_a, r.id_b) for r in capped_df.collect()}
    assert capped <= uncapped
    assert obs.get["dropped"] >= 0 and obs.get["kept"] >= 0

    # direct membership bound on the banded view
    sigs = dedup.lsh_signature_index(docs, "text", "doc_id", materialize=False)
    banded = dedup.lsh_bands(sigs, 4, 4)
    guarded = dedup.cap_bucket_members(banded, 3)
    sizes = guarded.groupBy("band", "bucket").count().collect()
    assert all(r["count"] <= 3 for r in sizes)
    total = banded.count()
    assert obs.get["dropped"] + obs.get["kept"] == total


@pytest.mark.parametrize("planes,dim", [(4, 8), (8, 16)])
def test_codes_norms_sql_form_deterministic(spark, planes, dim):
    """_codes_norms (r13: IN-ROW transform/aggregate over the vector
    view) stays deterministic and partition-independent, and stays
    bit-identical to the old exploded + hash-aggregated reference form
    (same per-element scaled ROUND terms; integer sums are
    order-independent)."""
    from pyspark.sql import functions as F

    from datafusion_server_spark.operators.similarity import (
        SCALE,
        _codes_norms,
        _elements,
        _vectors,
        hyperplane_signs,
    )

    rng = random.Random(planes * 100 + dim)
    vecs = _rand_vecs(rng, 40, dim)
    df = spark.createDataFrame(vecs, "vec_id bigint, embedding array<double>")
    a = sorted(
        map(tuple, _codes_norms(_vectors(df, "vec_id", "embedding"), planes, dim).collect())
    )
    b = sorted(
        map(
            tuple,
            _codes_norms(
                _vectors(df.repartition(7), "vec_id", "embedding"), planes, dim
            ).collect(),
        )
    )
    assert a == b and len(a) == 40

    # exploded + grouped-aggregation reference (the pre-r13 shape)
    sign_strs = [
        "".join("1" if s == 1 else "0" for s in hyperplane_signs(p, dim))
        for p in range(planes)
    ]
    el = _elements(df, "vec_id", "embedding", "id")
    sums = el.groupBy("id").agg(
        *[
            F.expr(
                f"SUM(CAST(ROUND((CASE WHEN SUBSTRING('{sign_strs[p]}', i, 1) = '1' "
                f"THEN x ELSE -x END) * {SCALE}) AS BIGINT)) AS s{p}"
            )
            for p in range(planes)
        ],
        F.expr(
            f"SQRT(CAST(SUM(CAST(ROUND((x * x) * {SCALE}) AS BIGINT)) AS DOUBLE)"
            f" / {SCALE}) AS nrm"
        ),
    )
    bucket = F.expr(
        "CONCAT("
        + ", ".join(f"CASE WHEN s{p} > 0 THEN '1' ELSE '0' END" for p in range(planes))
        + ") AS bucket"
    )
    ref = sorted(map(tuple, sums.select("id", bucket, "nrm").collect()))
    assert a == ref


def test_codes_norms_ragged_vector_raises(spark):
    """r14 (verdict task 7): the dense-exactly-dim contract fails LOUDLY.
    A vector shorter (or longer) than ``dim`` must raise, not silently
    NULL-pad the SEQUENCE zip into an all-'0' bucket."""
    from datafusion_server_spark.operators.similarity import (
        _codes_norms,
        _vectors,
    )

    ok = spark.createDataFrame(
        [(1, [0.5] * 8), (2, [-0.25] * 8)], "vec_id bigint, embedding array<double>"
    )
    out = _codes_norms(_vectors(ok, "vec_id", "embedding"), 4, 8).collect()
    assert len(out) == 2 and all(len(r.bucket) == 4 for r in out)

    ragged = spark.createDataFrame(
        [(1, [0.5] * 8), (2, [0.5] * 5)], "vec_id bigint, embedding array<double>"
    )
    with pytest.raises(Exception) as ei:
        _codes_norms(_vectors(ragged, "vec_id", "embedding"), 4, 8).collect()
    assert "dense-vector contract" in str(ei.value)


def test_capped_pair_expansion_matches_join_form(spark):
    """r14 (ADVICE): the streaming two-stage pair expansion
    (POSEXPLODE + EXPLODE(SLICE(...))) must emit EXACTLY the pairs the
    unbounded self-join form produces when the cap is non-binding —
    including the strict a.id < b.id contract (no self-pairs)."""
    rng = random.Random(0x9A18)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    rows = []
    for i in range(60):
        base = [rng.choice(vocab) for _ in range(8)]
        rows.append((i, " ".join(base)))
        if rng.random() < 0.5:
            rows.append((2000 + i, " ".join(base)))  # exact dup text
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    joined = {
        (r.id_a, r.id_b)
        for r in dedup.lsh_candidate_pairs(
            docs, "text", "doc_id", materialize=False, max_bucket_members=None
        ).collect()
    }
    expanded = {
        (r.id_a, r.id_b)
        for r in dedup.lsh_candidate_pairs(
            docs, "text", "doc_id", materialize=False,
            max_bucket_members=10_000_000,
        ).collect()
    }
    assert expanded == joined
    assert all(a < b for a, b in expanded)


def test_two_capped_lsh_pipelines_union_analyzes(spark):
    """r11 ADVICE: composing two capped LSH pipelines in ONE query used
    to collide on the fixed observe-metric name ("lsh_bucket_cap") and
    fail CheckAnalysis; the per-call counter default must keep a UNION
    of two capped pipelines analyzable and runnable."""
    rows = [(i, f"w{i % 3} common words repeated {' x' * 6}") for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    a = dedup.lsh_candidate_pairs(
        docs, "text", "doc_id", materialize=False, max_bucket_members=3
    )
    b = dedup.lsh_candidate_pairs(
        docs, "text", "doc_id", materialize=False, max_bucket_members=4
    )
    assert a.unionByName(b).count() >= 0  # analyzes and runs


def test_quote_ident_backtick_column_roundtrip(spark):
    """r11 ADVICE: SQL-string builders must not break (or inject) on
    column names containing backticks/spaces — quote_ident doubles
    backticks so the string path behaves like the Column API."""
    from datafusion_server_spark.operators.scale import quote_ident

    weird = "te`xt col"
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d")], ["doc_id", "plain"]
    ).withColumnRenamed("plain", weird)
    sets = dedup.shingle_sets(df, weird, "doc_id")
    assert sets.count() == 4  # 2 docs x 2 distinct 3-gram shingles
    assert quote_ident(weird) == "`te``xt col`"


def test_sql_str_literal_roundtrips_quotes_and_backslashes(spark):
    """Spark's parser treats backslash as an escape: a literal built by
    quote-doubling alone silently rewrites or breaks on a backslash."""
    from datafusion_server_spark.operators.bpe import bpe_apply_merges
    from datafusion_server_spark.operators.scale import sql_str_literal

    cases = ["it's", "a\\b", "\\'", "trailing\\", "\\n", "''"]
    row = spark.sql(
        "SELECT " + ", ".join(f"{sql_str_literal(c)} AS c{i}" for i, c in enumerate(cases))
    ).collect()[0]
    assert list(row) == cases
    # a generated-SQL site: a BPE merge over backslash symbols
    docs = spark.createDataFrame([(1, "a\\nb")], "doc_id bigint, text string")
    out = bpe_apply_merges(docs, "text", "doc_id", [("\\", "n")]).collect()
    assert [tuple(r.syms) for r in out] == [("a", "\\n", "b")]
