"""Seeded fuzz of the GROUPS dialect rewriter (r9, verdict task 2).

The rewriter (the GROUPS passes of ``functions/dialect.py``) is about
1,100 lines, some 720 of them code, of staged text surgery over masked
SQL; its failure mode of record is
emitting inner SQL that fails Spark analysis instead of the documented
clear reject. This fuzzer generates hundreds of structured GROUPS
queries — frame bounds x EXCLUDE x PARTITION x order-key ties x
projection stars x GROUP BY/ordinals x derived-table wrappers — and
holds the rewriter to the two invariants that matter:

1. ``transpile`` either raises ``UnsupportedDialectFeature`` or emits
   SQL that Spark ANALYZES AND RUNS — never a raw AnalysisException.
2. Every accepted rewrite's values match an INDEPENDENT pure-Python
   evaluation of SQL-standard GROUPS-frame semantics (peer groups of
   the order key, frame bounds in peer-group units, EXCLUDE pruning;
   DuckDB cannot oracle these — its parser rejects GROUPS mode, which
   is the reason the reference-parity rewrite exists at all).

All-integer fixture, so agreement is exact equality.
"""

from __future__ import annotations

import random
from collections import Counter
from dataclasses import dataclass

import pytest

from datafusion_server_spark.functions.dialect import (
    UnsupportedDialectFeature,
    transpile,
)

# fixture: 36 rows, g has 3 values, x has ties WITHIN each partition
# (peer groups of size > 1, where GROUPS != ROWS), v unique
ROWS = [{"g": i % 3, "v": i, "x": (i * 5) % 7} for i in range(36)]
COLS = ("g", "v", "x")


# r10 (verdict task 7): STDDEV/VAR accepted under EXCLUDE via raw-moment
# subtraction. Generated ONLY with a live EXCLUDE clause: without one the
# plain frame rewrite keeps Spark's NATIVE single-pass central-moment
# aggregate, whose incremental float updates differ from the moment
# formula in the last ulp — the moment path (ours and the evaluator's)
# is exact on the all-integer fixture, so equality stays exact.
_VARIANCE_FNS = (
    "STDDEV", "STDDEV_SAMP", "STDDEV_POP", "VARIANCE", "VAR_SAMP", "VAR_POP",
)


@dataclass(frozen=True)
class Case:
    fn: str  # SUM | COUNT_STAR | COUNT | MIN | MAX
    arg: str  # v | x
    part: str | None  # None | g
    order: tuple[str, ...]  # ("x",) | ("x", "v")
    lo: tuple  # ("unb",) | ("prec", k) | ("cur",)
    hi: tuple  # ("cur",) | ("foll", k) | ("unb",)
    shorthand: bool  # GROUPS k PRECEDING
    exclude: str | None  # None | CURRENT ROW | GROUP | TIES
    proj: str  # explicit | star | tstar
    groupby: str | None  # None | g | ordinal
    wrap: bool  # derived-table wrapper around the whole statement


def _frame_sql(c: Case) -> str:
    if c.shorthand:
        return f"GROUPS {c.lo[1]} PRECEDING"
    lo = {
        "unb": "UNBOUNDED PRECEDING",
        "prec": f"{c.lo[1] if len(c.lo) > 1 else 0} PRECEDING",
        "cur": "CURRENT ROW",
    }[c.lo[0]]
    hi = {
        "cur": "CURRENT ROW",
        "foll": f"{c.hi[1] if len(c.hi) > 1 else 0} FOLLOWING",
        "unb": "UNBOUNDED FOLLOWING",
    }[c.hi[0]]
    return f"GROUPS BETWEEN {lo} AND {hi}"


def _fn_sql(c: Case) -> str:
    if c.groupby:
        inner = {"MIN": "MIN(v)", "MAX": "MAX(v)"}.get(c.fn, "SUM(v)")
        outer = "SUM" if c.fn in ("SUM", "COUNT_STAR", "COUNT") else c.fn
        return f"{outer}({inner})"
    if c.fn in _VARIANCE_FNS:
        return f"{c.fn}({c.arg})"
    return {
        "SUM": f"SUM({c.arg})",
        "COUNT_STAR": "COUNT(*)",
        "COUNT": f"COUNT({c.arg})",
        "AVG": f"AVG({c.arg})",
        "MIN": f"MIN({c.arg})",
        "MAX": f"MAX({c.arg})",
    }[c.fn]


def render(c: Case) -> str:
    over = []
    if c.part and not c.groupby:
        over.append(f"PARTITION BY {c.part}")
    order = "g" if c.groupby else ", ".join(c.order)
    over.append(f"ORDER BY {order}")
    over.append(_frame_sql(c))
    if c.exclude:
        over.append(f"EXCLUDE {c.exclude}")
    win = f"{_fn_sql(c)} OVER ({' '.join(over)}) AS w"
    if c.groupby:
        key = "1" if c.groupby == "ordinal" else "g"
        sql = f"SELECT g, {win} FROM t GROUP BY {key}"
    elif c.proj == "star":
        sql = f"SELECT *, {win} FROM t"
    elif c.proj == "tstar":
        sql = f"SELECT t.*, {win} FROM t"
    else:
        sql = f"SELECT g, v, x, {win} FROM t"
    if c.wrap:
        sql = f"SELECT * FROM ({sql}) __fz"
    return sql


# ---------------------------------------------------------------- oracle


def _agg(fn: str, vals: list[int], anchor: int = 0):
    if fn == "COUNT_STAR" or fn == "COUNT":  # fixture has no NULLs
        return len(vals)
    if not vals:
        return None
    if fn == "AVG":
        # Spark computes integral AVG as double sum / double count; the
        # fixture's sums are small enough to be exact in IEEE double,
        # so this division is bit-identical to Spark's
        return sum(vals) / len(vals)
    if fn in _VARIANCE_FNS:
        # the rewrite's exact ANCHOR-SHIFTED raw-moment formula (r11
        # ADVICE: d = x - min_partition(x) bounds the Σd² - (Σd)²/n
        # cancellation by the partition range), replicated op-for-op:
        # every intermediate (Σd, Σd², Σd·Σd) is an exact integer well
        # under 2^53 on this fixture, so the float ops below are
        # bit-identical to the spliced SQL's CAST/…/GREATEST/SQRT chain
        import math

        n = len(vals)
        pop = fn.endswith("_POP")
        if n < (1 if pop else 2):
            return None
        dv = [v - anchor for v in vals]
        s1 = sum(dv)
        s2 = sum(d * d for d in dv)
        base = float(s2) - float(s1) * float(s1) / n
        var = max(0.0, base / (n if pop else n - 1))
        return math.sqrt(var) if fn.startswith("STDDEV") else var
    return {"SUM": sum, "MIN": min, "MAX": max}[fn](vals)


def eval_groups_case(c: Case) -> list[dict]:
    """Independent SQL-standard GROUPS evaluation over ROWS."""
    if c.groupby:
        base = []
        for gval in sorted({r["g"] for r in ROWS}):
            vs = [r["v"] for r in ROWS if r["g"] == gval]
            inner = {"MIN": min(vs), "MAX": max(vs)}.get(c.fn, sum(vs))
            base.append({"g": gval, "__a": inner})
        parts = {None: base}
        order = ("g",)
        fn = "SUM" if c.fn in ("SUM", "COUNT_STAR", "COUNT") else c.fn
        arg = "__a"
    else:
        parts = {}
        for r in ROWS:
            parts.setdefault(r[c.part] if c.part else None, []).append(r)
        order, fn, arg = c.order, c.fn, c.arg
    out = []
    for prows in parts.values():
        # per-partition anchor for the variance moment shift (matches
        # the rewrite's injected MIN(arg) OVER (PARTITION BY ...))
        anchor = min(r[arg] for r in prows) if fn in _VARIANCE_FNS else 0
        srt = sorted(prows, key=lambda r: tuple(r[k] for k in order))
        peers: list[list[dict]] = []
        for r in srt:
            key = tuple(r[k] for k in order)
            if peers and tuple(peers[-1][0][k] for k in order) == key:
                peers[-1].append(r)
            else:
                peers.append([r])
        last = len(peers) - 1
        for pg, peer in enumerate(peers):
            lo = {"unb": 0, "prec": pg - (c.lo[1] if len(c.lo) > 1 else 0),
                  "cur": pg}[c.lo[0]]
            hi = (pg if c.shorthand else
                  {"cur": pg, "foll": pg + (c.hi[1] if len(c.hi) > 1 else 0),
                   "unb": last}[c.hi[0]])
            frame = [r for p in peers[max(lo, 0): min(hi, last) + 1] for r in p]
            for r in peer:
                rows_in = list(frame)
                if c.exclude == "CURRENT ROW":
                    rows_in = [q for q in rows_in if q is not r]
                elif c.exclude == "GROUP":
                    rows_in = [q for q in rows_in if q not in peer]
                elif c.exclude == "TIES":
                    rows_in = [q for q in rows_in if q is r or q not in peer]
                if fn == "COUNT_STAR":
                    w = len(rows_in)
                else:
                    w = _agg(fn, [q[arg] for q in rows_in], anchor)
                if c.groupby:
                    out.append({"g": r["g"], "w": w})
                else:
                    out.append({"g": r["g"], "v": r["v"], "x": r["x"], "w": w})
    return out


# ------------------------------------------------------------- generator


def gen_cases(n: int, seed: int = 0xD1A1EC7) -> list[Case]:
    rng = random.Random(seed)
    cases = []
    for _ in range(n):
        groupby = rng.choice([None, None, None, "g", "ordinal"])
        lo = rng.choice([("unb",), ("prec", rng.randint(0, 3)), ("cur",)])
        shorthand = lo[0] == "prec" and rng.random() < 0.25
        fn = rng.choice(
            ["SUM", "SUM", "COUNT_STAR", "COUNT", "AVG", "MIN", "MAX", "VAR"]
        )
        if fn == "VAR":  # r10: one slot rotates through the moment family
            fn = rng.choice(_VARIANCE_FNS)
            exclude = rng.choice(["CURRENT ROW", "GROUP", "TIES"])
        else:
            exclude = rng.choice([None, None, None, "CURRENT ROW", "GROUP", "TIES"])
        cases.append(
            Case(
                fn=fn,
                arg=rng.choice(["v", "x"]),
                part=rng.choice([None, "g"]),
                order=rng.choice([("x",), ("x",), ("x", "v")]),
                lo=lo,
                hi=rng.choice([("cur",), ("foll", rng.randint(0, 3)), ("unb",)]),
                shorthand=shorthand,
                exclude=exclude,
                proj=rng.choice(["explicit", "explicit", "star", "tstar"]),
                groupby=groupby,
                wrap=rng.random() < 0.2,
            )
        )
    return cases


def _canon(rows: list[dict]) -> Counter:
    return Counter(tuple(sorted(r.items())) for r in rows)


N_CASES = 240


def test_groups_rewriter_fuzz(spark):
    spark.createDataFrame(
        [(r["g"], r["v"], r["x"]) for r in ROWS], "g bigint, v bigint, x bigint"
    ).createOrReplaceTempView("t")
    accepted = rejected = 0
    for c in gen_cases(N_CASES):
        sql = render(c)
        try:
            out = transpile(sql)
        except UnsupportedDialectFeature:
            rejected += 1
            continue
        from datafusion_server_spark.functions.dialect import _GROUPS_FRAME

        assert not _GROUPS_FRAME.search(out), (
            f"transpile left a GROUPS frame un-rewritten and un-rejected:\n{sql}"
        )
        try:
            got = [r.asDict() for r in spark.sql(out).collect()]
        except Exception as e:  # invariant 1: never broken SQL
            pytest.fail(
                f"transpile emitted SQL Spark cannot run ({type(e).__name__}):"
                f"\n  raw: {sql}\n  out: {out}\n  {str(e)[:400]}"
            )
        want = eval_groups_case(c)  # star/t.* project the same g, v, x, w
        assert _canon(got) == _canon(want), (
            f"value mismatch on accepted rewrite:\n  raw: {sql}\n  out: {out}"
            f"\n  case: {c}"
        )
        accepted += 1
    # the fuzzer must not pass by rejecting everything: the supported
    # surface (offset/unbounded frames, EXCLUDE on SUM/COUNT, stars,
    # GROUP BY + ordinals) is most of the grid
    assert accepted >= 120, f"only {accepted}/{N_CASES} accepted ({rejected} rejected)"


# ------------------------------------------------- r11: multi-relation t.*
# verdict task 4: qualified t.* over a base JOIN expands from the
# registered-view schemas (columns_of resolver) when all column names
# are globally unique. Grid: projection shapes x aggregate x frame x
# EXCLUDE, value-exact vs the same independent evaluator (the join is
# 1:1 on s.k = t.g, so GROUPS semantics over the joined relation equal
# the single-table evaluation with the s columns appended as g-derived
# constants).

# s: one row per g value; k == g, y = k*10 + 1 (all-integer, unique names)
S_ROWS = [{"k": k, "y": k * 10 + 1} for k in range(3)]
_MR_SCHEMAS = {"t": ["g", "v", "x"], "s": ["k", "y"]}


def _mr_resolver(name: str):
    return _MR_SCHEMAS.get(name.rsplit(".", 1)[-1])


_MR_PROJECTIONS = {
    # label -> (select-list prefix, output column names sans w)
    "t_star_sy": ("t.*, s.y", ("g", "v", "x", "y")),
    "s_star_tv": ("s.*, t.v", ("k", "y", "v")),
    "both_stars": ("t.*, s.*", ("g", "v", "x", "k", "y")),
    "explicit_qual": ("t.g, t.v, t.x, s.y", ("g", "v", "x", "y")),
}


def gen_multi_cases(n: int, seed: int = 0xB45E) -> list[tuple[Case, str]]:
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        fn = rng.choice(["SUM", "COUNT_STAR", "AVG", "MIN", "MAX", "VAR"])
        if fn == "VAR":
            fn = rng.choice(_VARIANCE_FNS)
            exclude = rng.choice(["CURRENT ROW", "GROUP", "TIES"])
        else:
            exclude = rng.choice([None, None, "CURRENT ROW", "GROUP", "TIES"])
        lo = rng.choice([("unb",), ("prec", rng.randint(0, 3)), ("cur",)])
        out.append((
            Case(
                fn=fn,
                arg=rng.choice(["v", "x"]),
                part=rng.choice([None, "g"]),
                order=rng.choice([("x",), ("x", "v")]),
                lo=lo,
                hi=rng.choice([("cur",), ("foll", rng.randint(0, 3)), ("unb",)]),
                shorthand=lo[0] == "prec" and rng.random() < 0.25,
                exclude=exclude,
                proj="explicit",
                groupby=None,
                wrap=False,
            ),
            rng.choice(sorted(_MR_PROJECTIONS)),
        ))
    return out


def render_multi(c: Case, proj: str) -> str:
    over = []
    if c.part:
        over.append(f"PARTITION BY t.{c.part}")
    over.append("ORDER BY " + ", ".join(f"t.{k}" for k in c.order))
    over.append(_frame_sql(c))
    if c.exclude:
        over.append(f"EXCLUDE {c.exclude}")
    fn_sql = _fn_sql(c)
    # qualify the aggregate arg too: t.v / t.x
    fn_sql = fn_sql.replace("(v)", "(t.v)").replace("(x)", "(t.x)")
    sel = _MR_PROJECTIONS[proj][0]
    return (
        f"SELECT {sel}, {fn_sql} OVER ({' '.join(over)}) AS w "
        f"FROM t JOIN s ON s.k = t.g"
    )


N_MULTI_CASES = 120


def test_groups_multistar_fuzz(spark):
    from datafusion_server_spark.functions.dialect import _GROUPS_FRAME

    spark.createDataFrame(
        [(r["g"], r["v"], r["x"]) for r in ROWS], "g bigint, v bigint, x bigint"
    ).createOrReplaceTempView("t")
    spark.createDataFrame(
        [(r["k"], r["y"]) for r in S_ROWS], "k bigint, y bigint"
    ).createOrReplaceTempView("s")
    accepted = rejected = 0
    for c, proj in gen_multi_cases(N_MULTI_CASES):
        sql = render_multi(c, proj)
        try:
            out = transpile(sql, _mr_resolver)
        except UnsupportedDialectFeature:
            rejected += 1
            continue
        assert not _GROUPS_FRAME.search(out), (
            f"transpile left a GROUPS frame un-rewritten and un-rejected:\n{sql}"
        )
        try:
            got = [r.asDict() for r in spark.sql(out).collect()]
        except Exception as e:
            pytest.fail(
                f"transpile emitted SQL Spark cannot run ({type(e).__name__}):"
                f"\n  raw: {sql}\n  out: {out}\n  {str(e)[:400]}"
            )
        cols = _MR_PROJECTIONS[proj][1]
        want = []
        for r in eval_groups_case(c):
            full = dict(r)
            full["k"] = full["g"]
            full["y"] = full["g"] * 10 + 1
            want.append({k: full[k] for k in (*cols, "w")})
        assert _canon(got) == _canon(want), (
            f"value mismatch on accepted multi-relation rewrite:"
            f"\n  raw: {sql}\n  out: {out}\n  case: {c} proj={proj}"
        )
        accepted += 1
    assert accepted >= 80, (
        f"only {accepted}/{N_MULTI_CASES} accepted ({rejected} rejected)"
    )


def test_groups_multistar_guards(spark):
    """Ambiguous / unresolvable multi-relation bodies keep the clear
    reject (never broken SQL): intra-relation duplicate column names,
    bare * over colliding schemas, case-insensitively duplicate
    qualifiers (r12), unknown tables, no resolver, USING joins, derived
    tables. Cross-relation collisions alone no longer reject (r12 —
    covered by test_groups_multistar_collide_fuzz)."""
    base = (
        "SELECT t.*, SUM(t.v) OVER (ORDER BY t.x "
        "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS w "
    )
    intradup_resolver = lambda n: {"t": ["g", "v", "x"], "d": ["z", "z"]}.get(n)  # noqa: E731
    collide_resolver = lambda n: {"t": ["g", "v", "x"], "d": ["v", "z"]}.get(n)  # noqa: E731
    for sql, resolver in [
        (base + "FROM t JOIN d ON d.z = t.g", intradup_resolver),
        (
            "SELECT *, SUM(t.v) OVER (ORDER BY t.x "
            "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS w "
            "FROM t JOIN d ON d.z = t.g",
            collide_resolver,  # bare * over colliding schemas
        ),
        (base + "FROM t JOIN t T ON T.g = t.g", _mr_resolver),  # dup qual
        (base + "FROM t JOIN missing ON missing.m = t.g", _mr_resolver),
        (base + "FROM t JOIN s ON s.k = t.g", None),  # no resolver
        (base + "FROM t JOIN s USING (g)", _mr_resolver),
        (base + "FROM t JOIN (SELECT * FROM s) s ON s.k = t.g", _mr_resolver),
    ]:
        with pytest.raises(UnsupportedDialectFeature):
            transpile(sql, resolver)


def test_groups_multistar_wrapped_and_distinct(spark):
    """The multi-relation expansion composes with the derived-table
    recursion and DISTINCT bodies (deterministic spot cases extending
    the random grid)."""
    from datafusion_server_spark.functions.dialect import _GROUPS_FRAME

    spark.createDataFrame(
        [(r["g"], r["v"], r["x"]) for r in ROWS], "g bigint, v bigint, x bigint"
    ).createOrReplaceTempView("t")
    spark.createDataFrame(
        [(r["k"], r["y"]) for r in S_ROWS], "k bigint, y bigint"
    ).createOrReplaceTempView("s")
    inner = (
        "SELECT t.*, s.y, SUM(t.v) OVER (ORDER BY t.x, t.v "
        "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS w "
        "FROM t JOIN s ON s.k = t.g"
    )
    for sql in (
        f"SELECT * FROM ({inner}) sub WHERE w >= 0",  # derived-table wrap
        "SELECT DISTINCT t.*, s.y, COUNT(*) OVER (ORDER BY t.x, t.v "
        "GROUPS 1 PRECEDING) AS w FROM t JOIN s ON s.k = t.g",
    ):
        out = transpile(sql, _mr_resolver)
        assert not _GROUPS_FRAME.search(out), sql
        rows = spark.sql(out).collect()
        assert len(rows) == 36  # (x, v) is a total order; DISTINCT keeps all
        assert all(r["w"] is not None for r in rows)


# --- r12: colliding-schema multi-relation grid ---------------------------
# s2 collides with t on column name "v" (s2.v = k*100 + 7, still 1:1 on
# k == g). Projections are chosen so OUTPUT names stay unique (duplicate
# output names are a bare-* shape, which stays rejected); the collision
# lives in the INPUT schemas and the outer qualified refs, exercising
# the r12 per-relation wrap-alias rebind on both sides.
_MR2_SCHEMAS = {"t": ["g", "v", "x"], "s2": ["k", "y", "v"]}


def _mr2_resolver(name: str):
    return _MR2_SCHEMAS.get(name.rsplit(".", 1)[-1])


_MR2_PROJECTIONS = {
    "t_star_s2y": ("t.*, s2.y", ("g", "v", "x", "y")),
    "explicit_both_v": (
        "t.g, t.v, t.x, s2.y, s2.v AS sv",
        ("g", "v", "x", "y", "sv"),
    ),
}


def test_groups_multistar_collide_fuzz(spark):
    from datafusion_server_spark.functions.dialect import _GROUPS_FRAME

    spark.createDataFrame(
        [(r["g"], r["v"], r["x"]) for r in ROWS], "g bigint, v bigint, x bigint"
    ).createOrReplaceTempView("t")
    spark.createDataFrame(
        [(k, k * 10 + 1, k * 100 + 7) for k in range(3)],
        "k bigint, y bigint, v bigint",
    ).createOrReplaceTempView("s2")
    rng = random.Random(0xC0111DE)
    accepted = rejected = 0
    for c, _ in gen_multi_cases(60, seed=0xC0111DE):
        proj = rng.choice(sorted(_MR2_PROJECTIONS))
        sql = render_multi(c, "explicit_qual").replace(
            "SELECT t.g, t.v, t.x, s.y,",
            f"SELECT {_MR2_PROJECTIONS[proj][0]},",
        ).replace("FROM t JOIN s ON s.k = t.g", "FROM t JOIN s2 ON s2.k = t.g")
        try:
            out = transpile(sql, _mr2_resolver)
        except UnsupportedDialectFeature:
            rejected += 1
            continue
        assert not _GROUPS_FRAME.search(out), sql
        try:
            got = [r.asDict() for r in spark.sql(out).collect()]
        except Exception as e:
            pytest.fail(
                f"transpile emitted SQL Spark cannot run ({type(e).__name__}):"
                f"\n  raw: {sql}\n  out: {out}\n  {str(e)[:400]}"
            )
        cols = _MR2_PROJECTIONS[proj][1]
        want = []
        for r in eval_groups_case(c):
            full = dict(r)
            full["y"] = full["g"] * 10 + 1
            full["sv"] = full["g"] * 100 + 7
            want.append({k: full[k] for k in (*cols, "w")})
        assert _canon(got) == _canon(want), (
            f"value mismatch on accepted colliding-schema rewrite:"
            f"\n  raw: {sql}\n  out: {out}\n  case: {c} proj={proj}"
        )
        accepted += 1
    assert accepted >= 40, f"only {accepted}/60 accepted ({rejected} rejected)"


# --- r13: OUTER JOIN USING grid (verdict task 6) -------------------------
# t2 FULL/LEFT/RIGHT JOIN su USING (g): su covers g in {1,2,3,5} so LEFT
# leaves g in {0,4} unmatched (y NULL), RIGHT leaves g=5 unmatched
# (v NULL), FULL both. The merged key g is never NULL (both sides'
# keys are non-null), so peer-group order is deterministic; aggregate
# args v / y ARE null on unmatched rows, exercising null-skipping
# through the frame-minus-excluded arithmetic. Expected values come
# from an independent pure-Python join + GROUPS evaluation.

_OU_SU = {1: 11, 2: 21, 3: 31, 5: 51}  # g -> y
_OU_T2 = [{"g": i % 5, "v": i} for i in range(20)]

_OU_PROJECTIONS = {
    # label -> (select list, ((output col, evaluator source), ...));
    # q.* outputs the SIDE's key (NULL on unmatched), not the merged g
    "star": ("*", (("g", "g"), ("v", "v"), ("y", "y"))),
    "explicit": ("g, v, y", (("g", "g"), ("v", "v"), ("y", "y"))),
    "side_keys": (
        "t2.g AS tg, su.g AS sg, v, y",
        (("tg", "tg"), ("sg", "sg"), ("v", "v"), ("y", "y")),
    ),
    "su_star": ("su.*, v", (("g", "sg"), ("y", "y"), ("v", "v"))),
}


def _ou_joined(jt: str) -> list[dict]:
    rows = []
    for r in _OU_T2:
        if r["g"] in _OU_SU:
            rows.append({"g": r["g"], "tg": r["g"], "sg": r["g"],
                         "v": r["v"], "y": _OU_SU[r["g"]]})
        elif jt in ("LEFT", "FULL"):
            rows.append({"g": r["g"], "tg": r["g"], "sg": None,
                         "v": r["v"], "y": None})
    t2_gs = {r["g"] for r in _OU_T2}
    if jt in ("RIGHT", "FULL"):
        for g, y in _OU_SU.items():
            if g not in t2_gs:
                rows.append({"g": g, "tg": None, "sg": g, "v": None, "y": y})
    return rows


def _ou_agg(fn: str, vals: list) -> object:
    nn = [v for v in vals if v is not None]
    if fn == "COUNT_STAR":
        return len(vals)
    if fn == "COUNT":
        return len(nn)
    if not nn:
        return None
    if fn == "AVG":
        return sum(nn) / len(nn)
    return {"SUM": sum, "MIN": min, "MAX": max}[fn](nn)


def _ou_eval(jt: str, fn: str, arg: str, lo, hi, exclude, proj: str):
    rows = _ou_joined(jt)
    srt = sorted(rows, key=lambda r: r["g"])
    peers: list[list[dict]] = []
    for r in srt:
        if peers and peers[-1][0]["g"] == r["g"]:
            peers[-1].append(r)
        else:
            peers.append([r])
    last = len(peers) - 1
    out = []
    for pg, peer in enumerate(peers):
        flo = {"unb": 0}.get(lo[0], pg - lo[1] if lo[0] == "prec" else pg)
        fhi = {"unb": last}.get(hi[0], pg + hi[1] if hi[0] == "foll" else pg)
        frame = [r for p in peers[max(flo, 0): min(fhi, last) + 1] for r in p]
        for r in peer:
            rows_in = list(frame)
            if exclude == "CURRENT ROW":
                rows_in = [q for q in rows_in if q is not r]
            elif exclude == "GROUP":
                rows_in = [q for q in rows_in if q not in peer]
            elif exclude == "TIES":
                rows_in = [q for q in rows_in if q is r or q not in peer]
            w = _ou_agg(fn, [q[arg] for q in rows_in])
            out.append({
                **{name: r[src] for name, src in _OU_PROJECTIONS[proj][1]},
                "w": w,
            })
    return out


def test_groups_outer_using_fuzz(spark):
    from datafusion_server_spark.functions.dialect import _GROUPS_FRAME

    spark.createDataFrame(
        [(r["g"], r["v"]) for r in _OU_T2], "g bigint, v bigint"
    ).createOrReplaceTempView("t2")
    spark.createDataFrame(
        [(g, y) for g, y in _OU_SU.items()], "g bigint, y bigint"
    ).createOrReplaceTempView("su")
    cols = {"t2": ["g", "v"], "su": ["g", "y"]}
    resolver = lambda t: cols.get(t.rsplit(".", 1)[-1])  # noqa: E731
    rng = random.Random(0x0172E12)
    accepted = rejected = 0
    for _ in range(120):
        jt = rng.choice(["LEFT", "RIGHT", "FULL"])
        fn = rng.choice(["SUM", "COUNT_STAR", "COUNT", "AVG", "MIN", "MAX"])
        arg = rng.choice(["v", "y", "g"])
        lo = rng.choice([("unb",), ("prec", rng.randint(0, 2)), ("cur",)])
        hi = rng.choice([("cur",), ("foll", rng.randint(0, 2)), ("unb",)])
        exclude = rng.choice([None, None, "CURRENT ROW", "GROUP", "TIES"])
        proj = rng.choice(sorted(_OU_PROJECTIONS))
        frame = _frame_sql(Case(
            fn=fn, arg=arg, part=None, order=("g",), lo=lo, hi=hi,
            shorthand=False, exclude=exclude, proj="explicit",
            groupby=None, wrap=False,
        ))
        fsql = "COUNT(*)" if fn == "COUNT_STAR" else f"{fn}({arg})"
        over = f"ORDER BY g {frame}" + (f" EXCLUDE {exclude}" if exclude else "")
        jt_sql = rng.choice([jt, f"{jt} OUTER"])
        sql = (
            f"SELECT {_OU_PROJECTIONS[proj][0]}, {fsql} OVER ({over}) AS w "
            f"FROM t2 {jt_sql} JOIN su USING (g)"
        )
        try:
            out = transpile(sql, resolver)
        except UnsupportedDialectFeature:
            rejected += 1
            continue
        assert not _GROUPS_FRAME.search(out), sql
        try:
            got = [r.asDict() for r in spark.sql(out).collect()]
        except Exception as e:
            pytest.fail(
                f"transpile emitted SQL Spark cannot run ({type(e).__name__}):"
                f"\n  raw: {sql}\n  out: {out}\n  {str(e)[:400]}"
            )
        want = _ou_eval(jt, fn, arg, lo, hi, exclude, proj)
        assert _canon(got) == _canon(want), (
            f"value mismatch:\n  raw: {sql}\n  out: {out}"
            f"\n  jt={jt} fn={fn} arg={arg} lo={lo} hi={hi} ex={exclude} proj={proj}"
        )
        accepted += 1
    assert accepted >= 80, f"only {accepted}/120 accepted ({rejected} rejected)"
