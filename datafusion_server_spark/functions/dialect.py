"""DataFusion-dialect -> Spark SQL transpile pass (SURVEY §4.2 item 2).

The reference accepts DataFusion 45 SQL verbatim (the server imposes no
restriction: lib/src/context/session.rs:658-673). Spark SQL covers almost
all of it; this module patches the residual dialect edges at the API
boundary so reference queries run unmodified:

- ``table@namespace`` relations: found for lazy JDBC registration
  (reference table_register.rs:19-75) and backtick-quoted so Spark's
  parser accepts the ``@`` (SURVEY hard-parts note);
- ``date_bin(INTERVAL, ts[, origin])`` -> epoch-floor arithmetic;
- function-name aliases with identical argument order.

This is a string-level pass (no sqlglot in the container); it is
deliberately conservative: identifiers inside string literals are
protected before rewriting.
"""

from __future__ import annotations

import re

# function aliases with the SAME argument order/semantics
_FN_ALIASES = {
    "approx_distinct": "approx_count_distinct",
    "approx_percentile_cont": "percentile_approx",
    "to_unixtime": "unix_timestamp",
    "to_hex": "hex",
    "strpos": "instr",
    "random": "rand",
    "arrow_typeof": "typeof",
    "list_contains": "array_contains",
    "array_to_string": "array_join",
}

# DataFusion/Postgres ``regexp_match(s, p)`` returns the FIRST match's
# capture groups (NULL when no match) — not Spark's regexp_extract_all
# (ALL matches of one group). Registered as a SQL scalar function per
# session instead of a string rewrite. Documented limit: patterns must
# have >=1 capture group (group 1 is returned), matching the common
# Postgres usage; group-less patterns raise from regexp_extract.
SESSION_SQL_FUNCTIONS: tuple[str, ...] = (
    """
    CREATE OR REPLACE TEMPORARY FUNCTION regexp_match(s STRING, p STRING)
    RETURNS ARRAY<STRING>
    RETURN CASE WHEN s RLIKE p THEN array(regexp_extract(s, p, 1)) END
    """,
)
# Whether SQL text may call one of SESSION_SQL_FUNCTIONS (a match inside a
# string literal or comment only registers them needlessly).
_NAMES_SESSION_FUNCTION = re.compile(r"\bregexp_match\s*\(", re.IGNORECASE)


def names_session_function(sql: str) -> bool:
    return _NAMES_SESSION_FUNCTION.search(sql) is not None


def register_session_functions(spark) -> None:
    """Install dialect-shim SQL functions into a SparkSession (idempotent)."""
    for ddl in SESSION_SQL_FUNCTIONS:
        spark.sql(ddl)

_TABLE_AT_NS = re.compile(r"(?<![\w`.])(\w+)@(\w+)(?![\w`])")

_INTERVAL_SECONDS = {
    "second": 1,
    "seconds": 1,
    "minute": 60,
    "minutes": 60,
    "hour": 3600,
    "hours": 3600,
    "day": 86400,
    "days": 86400,
    "week": 604800,
    "weeks": 604800,
}

_DATE_BIN = re.compile(
    r"date_bin\s*\(\s*interval\s+'(\d+)\s*(\w+)'\s*,"
    r"\s*([^,()]+(?:\([^()]*\))?[^,()]*)\s*"
    r"(?:,\s*([^()]+(?:\([^()]*\)[^()]*)*))?\)",
    re.IGNORECASE,
)


def _protect_strings(sql: str) -> tuple[str, list[str]]:
    literals: list[str] = []

    def stash(m: re.Match) -> str:
        literals.append(m.group(0))
        return f"\x00{len(literals) - 1}\x00"

    return re.sub(r"'(?:[^']|'')*'", stash, sql), literals


def _restore_strings(sql: str, literals: list[str]) -> str:
    return re.sub(r"\x00(\d+)\x00", lambda m: literals[int(m.group(1))], sql)


def find_table_at_namespace(sql: str) -> list[tuple[str, str]]:
    """All ``table@namespace`` relations in the query (dedup, in order).
    Reference scans the AST (table_register.rs:40); this is the regex
    equivalent over a string with literals masked out."""
    masked, _ = _protect_strings(sql)
    seen: list[tuple[str, str]] = []
    for m in _TABLE_AT_NS.finditer(masked):
        pair = (m.group(1), m.group(2))
        if pair not in seen:
            seen.append(pair)
    return seen


def quote_table_at_namespace(sql: str) -> str:
    masked, lits = _protect_strings(sql)
    masked = _TABLE_AT_NS.sub(r"`\1@\2`", masked)
    return _restore_strings(masked, lits)


def rewrite_date_bin(sql: str) -> str:
    """``date_bin(INTERVAL '5 minutes', ts[, origin])`` ->
    epoch-floor arithmetic. The optional third argument shifts the bucket
    boundaries: ``floor((ts - origin) / width) * width + origin``
    (DataFusion's default origin is the epoch, so the two-arg form omits
    the shift)."""

    def repl(m: re.Match) -> str:
        n, unit, expr = int(m.group(1)), m.group(2).lower(), m.group(3).strip()
        origin = (m.group(4) or "").strip()
        secs = _INTERVAL_SECONDS.get(unit)
        if secs is None:
            return m.group(0)
        width = n * secs
        if origin:
            o = f"unix_timestamp({origin})"
            return (
                f"timestamp_seconds(floor((unix_timestamp({expr}) - {o})"
                f" / {width}) * {width} + {o})"
            )
        return (
            f"timestamp_seconds(floor(unix_timestamp({expr}) / {width}) * {width})"
        )

    return _DATE_BIN.sub(repl, sql)


def rewrite_function_aliases(sql: str) -> str:
    masked, lits = _protect_strings(sql)
    for src, dst in _FN_ALIASES.items():
        masked = re.sub(rf"\b{src}\s*\(", f"{dst}(", masked, flags=re.IGNORECASE)
    return _restore_strings(masked, lits)


class UnsupportedDialectFeature(ValueError):
    """DataFusion-dialect feature with no Spark analog (SURVEY §2.B gaps).
    Raised eagerly with a clear message instead of letting Spark's parser
    produce an opaque failure."""


_GROUPS_FRAME = re.compile(r"\bGROUPS\s+BETWEEN\b|\bGROUPS\s+(\d+|UNBOUNDED)\s+PRECEDING\b", re.IGNORECASE)

# A GROUPS frame whose endpoints are UNBOUNDED PRECEDING / CURRENT ROW /
# UNBOUNDED FOLLOWING is value-identical to the same RANGE frame: RANGE
# CURRENT ROW already includes every peer (tie) of the current row, which
# is exactly what GROUPS CURRENT ROW means. Only offset GROUPS frames
# (``GROUPS n PRECEDING``) have no Spark equivalent.
_GROUPS_REWRITABLE = re.compile(
    r"\bGROUPS\s+(BETWEEN\s+(?:UNBOUNDED\s+PRECEDING|CURRENT\s+ROW)\s+AND\s+"
    r"(?:UNBOUNDED\s+FOLLOWING|CURRENT\s+ROW)|UNBOUNDED\s+PRECEDING)\b",
    re.IGNORECASE,
)


def rewrite_groups_frames(sql: str) -> str:
    """Rewrite the unbounded/current-row GROUPS frames to RANGE. A
    trailing ``EXCLUDE NO OTHERS`` is the default (dropped first); any
    OTHER EXCLUDE clause blocks this direct rewrite — Spark has no
    frame EXCLUDE syntax, so those frames fall through to
    ``rewrite_offset_groups``'s frame-minus-excluded arithmetic."""
    masked, lits = _protect_strings(sql)
    masked = re.sub(
        r"(GROUPS\s+[^()]*?)\s+EXCLUDE\s+NO\s+OTHERS\b",
        r"\1",
        masked,
        flags=re.IGNORECASE,
    )
    masked = _GROUPS_REWRITABLE.sub(
        lambda m: m.group(0)
        if re.match(r"\s*EXCLUDE\b", masked[m.end():], re.IGNORECASE)
        else f"RANGE {m.group(1)}",
        masked,
    )
    return _restore_strings(masked, lits)


# --- offset GROUPS frames (GROUPS n PRECEDING / BETWEEN n PRECEDING...) ---
#
# DataFusion 45 executes these natively; Spark has no GROUPS frame mode.
# The value-preserving rewrite: a peer group is a run of ORDER-BY ties, and
# DENSE_RANK numbers peer groups consecutively — so a RANGE frame over the
# dense rank with the SAME offsets selects exactly the same rows:
#
#   agg(x) OVER (PARTITION BY p ORDER BY o GROUPS BETWEEN 1 PRECEDING
#                AND CURRENT ROW)
# =
#   agg(x) OVER (PARTITION BY p ORDER BY __grp_rank RANGE BETWEEN 1
#                PRECEDING AND CURRENT ROW)
#   ... FROM (SELECT *, DENSE_RANK() OVER (PARTITION BY p ORDER BY o)
#             AS __grp_rank FROM ...)
#
# The rewrite restructures a single-SELECT statement: the dense rank is
# computed in a derived subquery (windows evaluate after WHERE, so the
# whole FROM..WHERE body moves inside), the outer select keeps its
# expressions with the frame swapped. Exotic shapes (set operations,
# SELECT *, top-level GROUP BY/HAVING, DISTINCT, EXCLUDE clauses) stay
# rejected with a clear message.

_OFFSET_GROUPS_SPEC = re.compile(
    r"^(?P<head>.*?\bORDER\s+BY\b.*?)\s*"
    r"\bGROUPS\s+(?P<frame>"
    r"BETWEEN\s+(?:UNBOUNDED\s+PRECEDING|\d+\s+(?:PRECEDING|FOLLOWING)|CURRENT\s+ROW)"
    r"\s+AND\s+(?:UNBOUNDED\s+FOLLOWING|\d+\s+(?:PRECEDING|FOLLOWING)|CURRENT\s+ROW)"
    r"|\d+\s+PRECEDING)"
    r"\s*(?P<excl>EXCLUDE\s+(?:NO\s+OTHERS|CURRENT\s+ROW|GROUP|TIES))?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_HEAD_SPLIT = re.compile(
    r"^\s*(?:PARTITION\s+BY\s+(?P<part>.*?))?\s*ORDER\s+BY\s+(?P<ord>.*)$",
    re.IGNORECASE | re.DOTALL,
)


def _over_spans(masked: str) -> list[tuple[int, int, int]]:
    """(over_kw_start, open_paren_index, close_paren_index) for each
    balanced ``OVER ( ... )`` in the masked SQL."""
    spans = []
    for m in re.finditer(r"\bOVER\s*\(", masked, re.IGNORECASE):
        depth = 1
        i = m.end()
        while i < len(masked) and depth:
            if masked[i] == "(":
                depth += 1
            elif masked[i] == ")":
                depth -= 1
            i += 1
        if depth == 0:
            spans.append((m.start(), m.end() - 1, i - 1))
    return spans


def _depth0_find(masked: str, pattern: str, start: int = 0) -> int:
    """Index of the first depth-0 regex match at/after ``start``, or -1."""
    depth = 0
    rx = re.compile(pattern, re.IGNORECASE)
    i = start
    while i < len(masked):
        c = masked[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0:
            m = rx.match(masked, i)
            if m:
                return i
        i += 1
    return -1


def _split_depth0_commas(s: str) -> list[str]:
    items, depth, start = [], 0, 0
    for i, c in enumerate(s):
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            items.append(s[start:i])
            start = i + 1
    items.append(s[start:])
    return items


_SETOP_AT = re.compile(r"(UNION|INTERSECT|EXCEPT)(\s+(ALL|DISTINCT))?\b", re.I)


def _split_depth0_setops(masked: str) -> list[tuple[str, bool]] | None:
    """Split a masked statement into alternating (branch, False) /
    (set-op token, True) pieces at depth-0 set operators. A star-EXCEPT
    (``* EXCEPT (...)``) is a projection modifier, not a set op — the
    preceding non-space character disambiguates. Returns None when no
    depth-0 set op exists."""
    pieces: list[tuple[str, bool]] = []
    depth = 0
    i = 0
    last = 0
    found = False
    while i < len(masked):
        c = masked[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0:
            m = _SETOP_AT.match(masked, i)
            if m and (i == 0 or not re.match(r"[\w.]", masked[i - 1])):
                prev = masked[:i].rstrip()
                if not prev.endswith("*"):  # star-EXCEPT guard
                    pieces.append((masked[last:i], False))
                    pieces.append((m.group(0), True))
                    last = m.end()
                    i = m.end()
                    found = True
                    continue
        i += 1
    if not found:
        return None
    pieces.append((masked[last:], False))
    return pieces


def _sole_from_relation(masked: str, frm: int) -> tuple[str | None, str | None]:
    """(relation, alias) when the depth-0 FROM clause names a SINGLE
    unjoined base relation (``FROM t``, ``FROM db.t x``); (None, None)
    for joins, comma lists, or derived tables."""
    stop = _depth0_find(
        masked,
        r"(WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|OFFSET|WINDOW|QUALIFY)\b",
        frm,
    )
    seg = masked[frm + 4 : stop if stop != -1 else len(masked)]
    m = re.match(
        r"\s*([A-Za-z_][\w.@$]*)(?:\s+(?:AS\s+)?([A-Za-z_]\w*))?\s*;?\s*$",
        seg,
        re.IGNORECASE,
    )
    if not m:
        return None, None
    return m.group(1), m.group(2)


_JOIN_KW = re.compile(
    r"\b(?:(?:INNER|LEFT|RIGHT|FULL|CROSS)\s+(?:OUTER\s+)?)?JOIN\b",
    re.IGNORECASE,
)
_RELATION_RE = re.compile(
    r"\s*([A-Za-z_][\w.@$]*)(?:\s+(?:AS\s+)?([A-Za-z_]\w*))?\s*$",
    re.IGNORECASE,
)
_ALIAS_KEYWORDS = frozenset(
    {"ON", "USING", "JOIN", "INNER", "LEFT", "RIGHT", "FULL", "CROSS",
     "OUTER", "NATURAL", "WHERE"}
)


def _from_base_relations(
    masked: str, frm: int
) -> tuple[list[tuple[str, str]], list[str]] | None:
    """Parse a depth-0 FROM clause made purely of BASE relations —
    ``FROM a [AS] x, b`` / ``a JOIN b ON ...`` / ``JOIN ... USING
    (k)`` chains (INNER r12; LEFT/RIGHT/FULL r13) — returning
    ``([(table, qualifier), ...], [using_col, ...], outer_using)``
    where qualifier is the alias or the table name's last dotted part,
    using cols are lowercased, and ``outer_using`` flags USING keys
    under an OUTER join (merged output is the standard's coalesced
    key — Spark models it natively in ``SELECT *``/bare refs, but the
    per-SIDE qualified refs ``q.k`` differ from the merged column, so
    the caller must wrap-alias them instead of stripping the
    qualifier). None for anything richer (derived tables,
    NATURAL OUTER/SEMI/ANTI/LATERAL, parenthesized ON conditions):
    those keep the conservative multi-relation reject."""
    stop = _depth0_find(
        masked,
        r"(WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|OFFSET|WINDOW|QUALIFY)\b",
        frm,
    )
    seg = masked[frm + 4 : stop if stop != -1 else len(masked)]
    seg = seg.strip().rstrip(";").strip()
    if not seg:
        return None
    if re.search(r"\b(SEMI|ANTI|LATERAL)\b", seg, re.IGNORECASE):
        return None
    # r12: NATURAL INNER JOIN == USING(common columns) — the caller
    # resolves the common set from the schemas (two-relation FROM only;
    # OUTER NATURAL keeps the coalesced-key reject). The "NATURAL"
    # sentinel is returned as a using col entry the caller expands.
    natural = False
    if re.search(
        r"\bNATURAL\s+(LEFT|RIGHT|FULL|OUTER)\b", seg, re.IGNORECASE
    ):
        return None
    if re.search(r"\bNATURAL\b", seg, re.IGNORECASE):
        natural = True
        seg = re.sub(
            r"\bNATURAL\s+(INNER\s+)?(?=JOIN\b)", "", seg, flags=re.IGNORECASE
        )
        if re.search(r"\bNATURAL\b", seg, re.IGNORECASE):
            return None  # NATURAL not attached to a JOIN: malformed
    # r12: lift USING (...) clauses out before the paren check; r13
    # (verdict task 6): OUTER joins with USING no longer reject — the
    # merged (coalesced) key is Spark-native in the wrap's SELECT *,
    # and the outer_using flag routes per-side qualified key refs
    # through wrap aliases
    using_cols: list[str] = []

    def _take_using(m: re.Match) -> str:
        using_cols.extend(
            c.strip().strip('`"').lower()
            for c in m.group(1).split(",") if c.strip()
        )
        return " "

    seg = re.sub(r"\bUSING\s*\(([^)]*)\)", _take_using, seg, flags=re.IGNORECASE)
    outer_using = bool(using_cols) and bool(
        re.search(r"\b(LEFT|RIGHT|FULL|OUTER)\b", seg, re.IGNORECASE)
    )
    if "(" in seg or ")" in seg:
        return None
    parts: list[str] = []
    for chunk in seg.split(","):
        parts.extend(_JOIN_KW.split(chunk))
    rels: list[tuple[str, str]] = []
    for p in parts:
        p = p.strip()
        if not p:
            return None
        m_on = re.search(r"\bON\b", p, re.IGNORECASE)
        head = p[: m_on.start()] if m_on else p
        m = _RELATION_RE.match(head)
        if not m:
            return None
        name, alias = m.group(1), m.group(2)
        if alias and alias.upper() in _ALIAS_KEYWORDS:
            return None
        rels.append((name, alias or name.rsplit(".", 1)[-1]))
    if natural:
        if using_cols or len(rels) != 2:
            return None  # NATURAL+USING mix / chains: keep the reject
        using_cols = ["\0natural"]  # sentinel: caller expands from schemas
    return (rels, using_cols, outer_using) if rels else None


def _quote_col(name: str) -> str:
    """Backtick-quote a resolver-returned column name before splicing it
    into generated SQL (r12 ADVICE: server sessions resolve columns_of
    over user-registered views, so a name needing quoting — space,
    reserved word, embedded backtick — must round-trip instead of
    producing unparseable SQL). Same escaping as operators.scale
    ``quote_ident`` (kept local: functions/ has no package deps)."""
    return "`" + name.replace("`", "``") + "`"


def _join_colmap(
    masked: str, frm: int, columns_of
) -> tuple[dict[str, list[str]], set[str], set[str]] | None:
    """(qualifier-lowercase -> column list, colliding-lowercase-names,
    wrap-aliased-lowercase-names)
    for a base-relation join FROM clause whose every relation schema
    resolves through ``columns_of``. Qualifiers compare and key
    case-insensitively (r12 ADVICE — Spark resolves aliases
    case-insensitively, so ``FROM t a JOIN s A`` IS a duplicate).
    ``colliding`` holds column names appearing in more than one
    relation: those stay unambiguous only behind an explicit qualifier,
    and the caller maps them to wrap-level aliases (r12 verdict task 5)
    instead of rejecting the statement. r12 extension: INNER ``USING``
    join keys are MERGED by the join — ``SELECT *`` exposes them once
    and the bare name is unambiguous — so they are excluded from
    ``colliding``, but only when every relation carrying the name is
    merged through it (a chain of n relations needs n-1 USING mentions;
    anything less leaves an unmerged duplicate and rejects). r13
    (verdict task 6): OUTER joins with USING resolve too — merged keys
    leave ``colliding`` exactly like the INNER case (the bare name is
    the standard's coalesced column, which Spark's SELECT-*-wrap
    models natively), but they land in the returned ALIASED set: a
    per-side qualified ``q.k`` differs from the merged column under an
    OUTER join (NULL on q's unmatched rows), so the caller must rebind
    those refs to explicit wrap aliases rather than strip the
    qualifier. None when a relation fails to resolve, a qualifier
    duplicates, or a single relation carries an internally duplicated
    column name (ambiguous even when qualified)."""
    parsed = _from_base_relations(masked, frm)
    if not parsed or columns_of is None:
        return None
    rels, using_cols, outer_using = parsed
    colmap: dict[str, list[str]] = {}
    seen: set[str] = set()
    colliding: set[str] = set()
    for table, qual in rels:
        q = qual.lower()
        if q in colmap:
            return None  # duplicate qualifier: ambiguous
        try:
            cols = columns_of(table)
        except Exception:
            return None
        if not cols:
            return None
        lowered = [c.lower() for c in cols]
        if len(set(lowered)) != len(lowered):
            return None  # intra-relation duplicate: ambiguous even qualified
        colliding |= seen & set(lowered)
        seen.update(lowered)
        colmap[q] = list(cols)
    if using_cols == ["\0natural"]:
        # r12: NATURAL INNER JOIN of exactly two relations — the merged
        # set IS the schema intersection (empty intersection = a cross
        # join: nothing merges, nothing collides by construction)
        a, b = colmap.values()
        common = {c.lower() for c in a} & {c.lower() for c in b}
        using_cols = sorted(common)
    aliased: set[str] = set()
    if using_cols:
        merged = set(using_cols)
        for u in merged:
            n_rels = sum(1 for cols in colmap.values()
                         if u in (c.lower() for c in cols))
            n_using = using_cols.count(u)
            if n_rels < 2 or n_using != n_rels - 1:
                return None  # unmerged/malformed duplicate of a USING key
        colliding -= merged
        if outer_using:
            aliased |= merged
    return colmap, colliding, aliased | colliding


def _frame_contains_current(frame_norm: str) -> bool:
    """True when a normalized ``BETWEEN lo AND hi`` GROUPS frame always
    contains the current peer group (the only case a frame EXCLUDE
    clause can remove anything): hi is not ``d PRECEDING`` with d>=1
    and lo is not ``d FOLLOWING`` with d>=1."""
    m = re.fullmatch(
        r"BETWEEN\s+(.+?)\s+AND\s+(.+)", frame_norm, re.IGNORECASE
    )
    if not m:
        return True  # shorthand 'd PRECEDING' already normalized away
    lo, hi = m.group(1).strip(), m.group(2).strip()
    m_hi = re.fullmatch(r"(\d+)\s+PRECEDING", hi, re.IGNORECASE)
    if m_hi and int(m_hi.group(1)) >= 1:
        return False
    m_lo = re.fullmatch(r"(\d+)\s+FOLLOWING", lo, re.IGNORECASE)
    if m_lo and int(m_lo.group(1)) >= 1:
        return False
    return True


# identifiers allowed in a window item's RESIDUAL text (the wrapper
# around the rewritten window calls): scalar shells + cast type names.
# Anything else (a bare column, another aggregate) would land in the
# post-aggregation outer query where it cannot resolve — reject.
_WRAPPER_IDENTS = {
    "ROUND", "CAST", "TRY_CAST", "COALESCE", "ABS", "NULLIF", "AS",
    "DOUBLE", "FLOAT", "REAL", "BIGINT", "INT", "INTEGER", "SMALLINT",
    "DECIMAL", "NUMERIC", "STRING", "VARCHAR", "AND", "OR", "NOT",
    "NULL", "CASE", "WHEN", "THEN", "ELSE", "END", "IS",
}


def _rebind_groups_windows_in_item(it: str, bind) -> tuple[str, str | None, bool]:
    """Rewrite every ``AGG(arg) OVER (GROUPS-spec)`` inside one select
    item in place, binding arg / partition / order expressions through
    ``bind`` (which projects them into the aggregated derived table).
    Returns (new_item, trailing_alias, ok)."""
    spans = []  # (agg_start, over_close, replacement)
    for kw, op, cl in _over_spans(it):
        spec = it[op + 1 : cl].strip()
        if not _GROUPS_FRAME.search(spec):
            return it, None, False  # mixed non-GROUPS window: out of scope
        sm = _OFFSET_GROUPS_SPEC.match(spec)
        if not sm:
            return it, None, False
        h = _HEAD_SPLIT.match(sm.group("head"))
        if not h:
            return it, None, False
        # walk back from OVER to the aggregate call FN( ... )
        j = kw - 1
        while j >= 0 and it[j].isspace():
            j -= 1
        if j < 0 or it[j] != ")":
            return it, None, False
        depth, i2 = 1, j - 1
        while i2 >= 0 and depth:
            if it[i2] == ")":
                depth += 1
            elif it[i2] == "(":
                depth -= 1
            i2 -= 1
        if depth:
            return it, None, False
        open_idx = i2 + 1
        m_fn = re.search(r"([A-Za-z_]\w*)\s*$", it[:open_idx])
        if not m_fn:
            return it, None, False
        fn, agg_start = m_fn.group(1), m_fn.start(1)
        arg = it[open_idx + 1 : j].strip()
        if re.match(r"\s*DISTINCT\b", arg, re.IGNORECASE):
            return it, None, False
        warg = "*" if arg == "*" else bind(arg)
        clauses = []
        if h.group("part"):
            clauses.append(
                "PARTITION BY "
                + ", ".join(bind(p) for p in _split_depth0_commas(h.group("part")))
            )
        ocols = []
        for o in _split_depth0_commas(h.group("ord")):
            mdir = _ORDER_DIR_TAIL.search(o)
            dirtxt = " " + mdir.group(0).strip() if mdir else ""
            ocols.append(bind(o[: mdir.start()] if mdir else o) + dirtxt)
        clauses.append("ORDER BY " + ", ".join(ocols))
        frame = f"GROUPS {sm.group('frame')}"
        if sm.group("excl"):
            frame += f" {sm.group('excl')}"
        spans.append(
            (agg_start, cl, f"{fn}({warg}) OVER ({' '.join(clauses)} {frame})")
        )
    if not spans:
        return it, None, False
    residual = it
    for start, end, _ in sorted(spans, reverse=True):
        residual = residual[:start] + residual[end + 1 :]
    alias = None
    m_as = re.search(r"\s+AS\s+([A-Za-z_]\w*)\s*$", residual, re.IGNORECASE)
    if m_as:
        alias = m_as.group(1)
        residual_body = residual[: m_as.start()]
    else:
        residual_body = residual
    for ident in re.findall(r"[A-Za-z_]\w*", residual_body):
        if ident.upper() not in _WRAPPER_IDENTS:
            return it, None, False  # non-wrapper reference would dangle
    out = it
    for start, end, text in sorted(spans, reverse=True):
        out = out[:start] + text + out[end + 1 :]
    return out, alias, True


_AGGREGATE_FNS = {
    "SUM", "COUNT", "AVG", "MIN", "MAX", "MEDIAN", "ANY_VALUE",
    "STDDEV", "STDDEV_POP", "STDDEV_SAMP", "VARIANCE", "VAR_POP",
    "VAR_SAMP", "STRING_AGG", "ARRAY_AGG", "BOOL_AND", "BOOL_OR",
    "BIT_AND", "BIT_OR", "BIT_XOR", "FIRST", "LAST", "COUNT_IF",
    "PERCENTILE", "PERCENTILE_APPROX", "APPROX_COUNT_DISTINCT",
}

_ORDER_DIR_TAIL = re.compile(
    r"\s+(ASC|DESC)\b(\s+NULLS\s+(FIRST|LAST)\b)?\s*$|\s+NULLS\s+(FIRST|LAST)\b\s*$",
    re.IGNORECASE,
)


def _recurse_groups_subselects(masked, lits, fn):
    """Recurse ``fn`` into every depth-0 parenthesized subselect that
    contains a GROUPS frame (derived tables, IN-subqueries, set-op
    branches) — shared by the offset rewrite and the GROUP BY hoist.
    Returns ``(masked, lits, sql, changed)``, re-protected after the
    splice so callers never pattern-match inside restored literals."""
    rebuilt = []
    i = 0
    changed = False
    while i < len(masked):
        if masked[i] == "(":
            d, j = 1, i + 1
            while j < len(masked) and d:
                if masked[j] == "(":
                    d += 1
                elif masked[j] == ")":
                    d -= 1
                j += 1
            inner = masked[i + 1 : j - 1]
            if (
                d == 0
                and re.match(r"\s*SELECT\b", inner, re.IGNORECASE)
                and _GROUPS_FRAME.search(inner)
            ):
                rebuilt.append("(" + fn(_restore_strings(inner, lits)) + ")")
                changed = True
                i = j
                continue
        rebuilt.append(masked[i])
        i += 1
    if not changed:
        return masked, lits, None, False
    masked2, lits2 = _protect_strings(_restore_strings("".join(rebuilt), lits))
    return masked2, lits2, _restore_strings(masked2, lits2), True


def rewrite_groups_over_groupby(sql: str) -> str:
    """r8 (verdict task 4): offset/EXCLUDE GROUPS frames in a query with
    a TOP-LEVEL GROUP BY [HAVING]. ``rewrite_offset_groups`` cannot fire
    there (its dense rank must be computed post-aggregation, but its
    derived table wraps the pre-aggregation body), so this pre-pass
    moves the AGGREGATION into a derived table first:

        SELECT g, SUM(SUM(v)) OVER (ORDER BY g GROUPS 1 PRECEDING)
        FROM t GROUP BY g [HAVING ...]
    ->  SELECT g, SUM(__agg_w1) OVER (ORDER BY __agg_o2 GROUPS 1 ...)
        FROM (SELECT g AS g, SUM(v) AS __agg_w1, g AS __agg_o2
              FROM t GROUP BY g [HAVING ...]) __agg_groups

    after which the ordinary offset-GROUPS rewrite applies to the (now
    unaggregated) outer query. Mechanical scope — anything outside it
    returns ``sql`` unchanged and rejects downstream with the clear
    UnsupportedDialectFeature: single SELECT, no DISTINCT/set ops, each
    select item either `expr AS alias` / a bare column / exactly one
    ``FN(arg) OVER (GROUPS-spec)`` call, and a trailing ORDER BY only
    over output aliases."""
    masked, lits = _protect_strings(sql)
    if not _GROUPS_FRAME.search(masked):
        return sql
    # r9: recurse into parenthesized subselects first (derived tables,
    # set-op branches) — a GROUPS+GROUP BY statement inside a wrapper
    # is the same statement for this pre-pass, exactly as
    # rewrite_offset_groups recurses (the fuzzer's 18 residual rejects
    # were ALL this shape)
    masked, lits, new_sql, changed = _recurse_groups_subselects(
        masked, lits, rewrite_groups_over_groupby
    )
    if changed:
        sql = new_sql
        if not _GROUPS_FRAME.search(masked):
            return sql
    sel = _depth0_find(masked, r"SELECT\b")
    if sel == -1 or _depth0_find(masked, r"SELECT\b", sel + 6) != -1:
        return sql
    frm = _depth0_find(masked, r"FROM\b", sel)
    gby = _depth0_find(masked, r"GROUP\s+BY\b", sel)
    if frm == -1 or gby == -1:
        return sql
    for bad in (r"\bUNION\b", r"\bINTERSECT\b", r"\bEXCEPT\b",
                r"SELECT\s+DISTINCT\b"):
        if _depth0_find(masked, bad, sel) != -1:
            return sql
    tail_at = _depth0_find(masked, r"(ORDER\s+BY|LIMIT|OFFSET)\b", gby)
    body_end = tail_at if tail_at != -1 else len(masked)
    agg_body = masked[frm:body_end].rstrip().rstrip(";")
    tail = masked[body_end:] if tail_at != -1 else ""
    # group-key expressions (normalized): every expression this pass
    # moves into the aggregated derived table must be aggregation-level
    # — a group key verbatim or an aggregate call — or the input was
    # invalid/out-of-scope and must keep the clear downstream reject
    # rather than emit inner SQL that cannot analyze
    hav = _depth0_find(masked, r"\bHAVING\b", gby)
    key_end = hav if hav != -1 and hav < body_end else body_end
    m_gb = re.compile(r"GROUP\s+BY\b", re.IGNORECASE).match(masked, gby)
    keys_start = m_gb.end() if m_gb else gby + 8
    raw_keys = _split_depth0_commas(masked[keys_start:key_end])
    # r9 (verdict task 4): GROUP BY ordinals resolve to the 1-based
    # select-list expression BEFORE the hoist (the inner derived table
    # reorders items, so a positional reference must become the
    # expression it names), then the pass re-runs on the spliced text.
    if any(re.fullmatch(r"\d+", k.strip()) for k in raw_keys):
        sel_items = _split_depth0_commas(masked[sel + 6 : frm])
        resolved: list[str] = []
        for k in raw_keys:
            ks = k.strip()
            if not re.fullmatch(r"\d+", ks):
                resolved.append(ks)
                continue
            pos = int(ks)
            if not 1 <= pos <= len(sel_items):
                return sql  # out-of-range ordinal: keep the clear reject
            item = sel_items[pos - 1].strip()
            if _GROUPS_FRAME.search(item) or _depth0_find(item, r"OVER\b") != -1:
                return sql  # grouping by a window item: invalid input
            m_as = re.match(
                r"^(.*?)\s+AS\s+[A-Za-z_]\w*\s*$", item, re.IGNORECASE | re.DOTALL
            )
            expr = m_as.group(1).strip() if m_as else item
            if expr == "*" or expr.endswith(".*"):
                return sql
            if re.fullmatch(r"\d+", expr):
                # the ordinal resolves to an integer LITERAL (e.g.
                # "SELECT 1 AS one ... GROUP BY 1") — splicing it back
                # would recurse on identical text forever (found by the
                # r9 self-review as a RecursionError); grouping by a
                # constant is out of mechanical scope, keep the reject
                return sql
            resolved.append(expr)
        spliced = (
            masked[:keys_start] + " " + ", ".join(resolved) + " " + masked[key_end:]
        )
        return rewrite_groups_over_groupby(_restore_strings(spliced, lits))
    gby_keys = set()
    for k in raw_keys:
        k = re.sub(r"\s+", " ", k.strip())
        gby_keys.add(k.lower())

    def _agg_level(expr: str) -> bool:
        """True iff every LEAF of the expression is aggregation-level:
        a group key verbatim, an aggregate call, or a literal. The r8
        greedy `FN\\(.*\\)$` match accepted compounds like
        "SUM(x) + (v)" — a raw column at aggregation level — and
        emitted inner SQL that fails Spark analysis with a raw
        AnalysisException; the r9 paren-balance fix then over-rejected
        VALID compounds like "SUM(v) + COUNT(x)" (caught by the r9
        self-review's differential run). This decomposes instead:
        split on depth-0 binary operators and recurse, so every
        operand is individually verified (strings are already masked,
        so parens/operators are literal)."""
        e = re.sub(r"\s+", " ", expr.strip())
        if not e:
            return False
        if e.lower() in gby_keys:
            return True
        # literals: numeric, masked string, NULL
        if re.fullmatch(r"\d+(\.\d+)?([eE][+-]?\d+)?|\x00\d+\x00", e) or (
            e.upper() == "NULL"
        ):
            return True
        # split on depth-0 binary operators (+ - * / % and ||)
        parts: list[str] = []
        depth = last = 0
        i = 0
        while i < len(e):
            c = e[i]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif depth == 0 and c in "+-*/%|":
                op_len = 2 if e[i : i + 2] == "||" else 1
                if c == "|" and op_len == 1:
                    return False  # lone '|' is not SQL
                parts.append(e[last:i])
                i += op_len
                last = i
                continue
            i += 1
        if parts:
            parts.append(e[last:])
            # an empty first part is a unary +/- sign; other empties
            # (e.g. "a ++ b" artifacts) reject
            if parts[0].strip() == "":
                parts = parts[1:]
            return bool(parts) and all(_agg_level(p) for p in parts)
        # fully parenthesized: recurse on the inside
        if e.startswith("(") and e.endswith(")"):
            depth = 0
            for j, c in enumerate(e):
                if c == "(":
                    depth += 1
                elif c == ")":
                    depth -= 1
                    if depth == 0:
                        if j == len(e) - 1:
                            return _agg_level(e[1:-1])
                        break
        # a single aggregate call whose '(' balances at the very end
        m_call = re.match(r"^([A-Za-z_]\w*)\s*\(", e)
        if not m_call or m_call.group(1).upper() not in _AGGREGATE_FNS:
            return False
        depth = 0
        for i in range(m_call.end() - 1, len(e)):
            if e[i] == "(":
                depth += 1
            elif e[i] == ")":
                depth -= 1
                if depth == 0:
                    return i == len(e) - 1
        return False

    inner_items: list[str] = []
    outer_items: list[str] = []
    out_names: set[str] = set()
    seen: dict[str, str] = {}
    bad_binding = False

    def bind(expr: str) -> str:
        nonlocal bad_binding
        if not _agg_level(expr):
            bad_binding = True
        key = re.sub(r"\s+", " ", expr.strip())
        if key not in seen:
            seen[key] = f"__agg_c{len(seen) + 1}"
            inner_items.append(f"{key} AS {seen[key]}")
        return seen[key]

    any_window = False
    for raw in _split_depth0_commas(masked[sel + 6 : frm]):
        it = raw.strip()
        if not _GROUPS_FRAME.search(it):
            m_as = re.match(
                r"^(.*?)\s+AS\s+([A-Za-z_]\w*)\s*$", it, re.IGNORECASE | re.DOTALL
            )
            if m_as:
                expr, alias = m_as.group(1).strip(), m_as.group(2)
            elif re.fullmatch(r"[A-Za-z_]\w*", it):
                expr = alias = it
            else:
                return sql
            inner_items.append(f"{expr} AS {alias}")
            outer_items.append(alias)
            out_names.add(alias.lower())
            continue
        new_it, alias, ok = _rebind_groups_windows_in_item(it, bind)
        if not ok:
            return sql
        outer_items.append(new_it)
        if alias:
            out_names.add(alias.lower())
        any_window = True
    if not any_window or bad_binding:
        return sql
    mt = re.match(
        r"^\s*ORDER\s+BY\s+(.*?)\s*(\bLIMIT\b.*|\bOFFSET\b.*)?$",
        tail,
        re.IGNORECASE | re.DOTALL,
    )
    if mt and mt.group(1):
        for o in _split_depth0_commas(mt.group(1)):
            mdir = _ORDER_DIR_TAIL.search(o)
            name = (o[: mdir.start()] if mdir else o).strip()
            if not re.fullmatch(r"[A-Za-z_]\w*", name) or name.lower() not in out_names:
                return sql  # tail references a non-output expression
    inner_sql = f"SELECT {', '.join(inner_items)} {agg_body}"
    rewritten = (
        f"{masked[:sel]}SELECT {', '.join(outer_items)} "
        f"FROM ({inner_sql}) __agg_groups {tail}"
    )
    return _restore_strings(rewritten, lits)


def rewrite_offset_groups(sql: str, columns_of=None) -> str:
    """Rewrite offset GROUPS frames to dense-rank-keyed RANGE frames.
    Set-operation statements rewrite branch-by-branch; a bare ``*``
    projection becomes ``* EXCEPT (<injected ranks>)`` so the helper
    columns never leak; DISTINCT is fine (it sees only the projected
    list). r7 additions: a qualified ``t.*`` over a SINGLE unjoined
    relation expands like ``*``; ``EXCLUDE CURRENT ROW/GROUP/TIES`` on
    SUM/COUNT/AVG rewrites to frame-minus-excluded arithmetic (peer
    group = rows equal on the partition+order keys), with an
    effective-count CASE so an emptied frame still yields NULL; r9:
    MIN/MAX under EXCLUDE decompose to LEAST/GREATEST over the
    before-/after-group sub-frames (plus a peers-minus-self ROWS pair
    for EXCLUDE CURRENT ROW); r12: ARRAY_AGG/COLLECT_LIST under
    EXCLUDE GROUP/TIES decompose to an order-preserving CONCAT of the
    same sub-frames. Statements the rewrite cannot prove safe
    (top-level GROUP BY/HAVING, multi-relation ``t.*``, EXCLUDE on
    aggregates neither subtractable nor order-decomposable) are
    returned unchanged and then rejected by check_unsupported with the
    narrowed message.

    r11 (verdict task 4): when ``columns_of`` (a ``table -> [column]``
    resolver over the registered views, e.g.
    ``lambda t: spark.table(t).columns``) is supplied, a qualified
    ``t.*`` over a MULTI-relation base join expands to t's explicit
    column list pre-rewrite — valid only when every relation resolves
    and all column names are globally unique, so the derived-table
    wrap's ``SELECT *`` exposes each column unambiguously; qualified
    outer references strip to bare columns under the same proof.
    Genuinely ambiguous bodies (duplicate column names, derived
    tables, USING/NATURAL joins, unresolvable relations) keep the
    clear reject."""
    masked, lits = _protect_strings(sql)
    if not _GROUPS_FRAME.search(masked):
        return sql
    # 1) recurse into parenthesized subselects that contain a GROUPS
    # frame (IN (...) subqueries, derived tables, parenthesized set-op
    # branches) — each is a standalone statement for this rewrite
    masked, lits, new_sql, changed = _recurse_groups_subselects(
        masked, lits, lambda s: rewrite_offset_groups(s, columns_of)
    )
    if changed:
        sql = new_sql
        if not _GROUPS_FRAME.search(masked):
            return sql
    # 2) set-operation statements: rewrite each branch independently (a
    # trailing statement-level ORDER BY/LIMIT re-binds to the whole set
    # op after reassembly)
    pieces = _split_depth0_setops(masked)
    if pieces is not None:
        out = []
        for seg, is_op in pieces:
            if is_op:
                out.append(seg)
            else:
                out.append(
                    rewrite_offset_groups(
                        _restore_strings(seg, lits), columns_of
                    )
                )
        return "".join(out)
    # enclosing-paren stack per index: an OVER nested inside a
    # SUBQUERY's parens (content starts with SELECT) belongs to that
    # subquery's rewrite, never this statement's — scalar-function
    # parens (ROUND(CAST(SUM(...) OVER ...))) are fine. The subselect
    # recursion above already handled rewritable subqueries; anything
    # left is unsafe.
    def _inside_subselect(pos: int) -> bool:
        stack: list[int] = []
        for i in range(pos):
            if masked[i] == "(":
                stack.append(i)
            elif masked[i] == ")":
                if stack:
                    stack.pop()
        # match against the UNtruncated tail: a '(' followed by a long
        # whitespace run (pretty-printed 'IN (\n      SELECT ...') is
        # still a subselect — truncating to a fixed window here used to
        # mis-classify those and splice the rewrite into the subquery
        return any(
            re.match(r"\s*SELECT\b", masked[o + 1 :], re.IGNORECASE)
            for o in stack
        )

    targets = []  # (over_kw, open, close, part, ord, frame, excl)
    for kw, op, cl in _over_spans(masked):
        inner = masked[op + 1 : cl]
        m = _OFFSET_GROUPS_SPEC.match(inner)
        if not m:
            continue
        if _inside_subselect(kw):
            return sql
        h = _HEAD_SPLIT.match(m.group("head"))
        if not h:
            return sql
        targets.append(
            (kw, op, cl, h.group("part"), h.group("ord"), m.group("frame"),
             m.group("excl"))
        )
    if not targets:
        return sql

    # safety gates: one top-level SELECT, no top-level GROUP BY/HAVING
    # (the rank must be computed pre-window but post-aggregation there).
    # A qualified star is fine when the FROM clause is a SINGLE unjoined
    # relation matching the qualifier (then t.* == *); other qualified
    # stars stay rejected (the derived-table alias hides the relation).
    sel = _depth0_find(masked, r"SELECT\b")
    if sel == -1 or _depth0_find(masked, r"SELECT\b", sel + 6) != -1:
        return sql
    frm = _depth0_find(masked, r"FROM\b", sel)
    if frm == -1:
        return sql
    for bad in (r"GROUP\s+BY\b", r"\bHAVING\b", r"\bUNION\b", r"\bINTERSECT\b",
                r"\bEXCEPT\b", r"\bEXCLUDE\b"):
        if _depth0_find(masked, bad, sel) != -1:
            return sql
    select_list = masked[sel + 6 : frm]
    list_body = re.sub(r"^\s*DISTINCT\b", "", select_list, flags=re.IGNORECASE)
    items = _split_depth0_commas(list_body)
    has_bare_star = any(it.strip() == "*" for it in items)
    qualified_stars = {
        it.strip()[:-2] for it in items if it.strip().endswith(".*")
    }
    # sole-relation names, captured pre-splice: used to validate t.*
    # AND (r8, ADVICE) to strip outer-query qualifiers after the wrap.
    # All qualifier comparison and stripping is case-insensitive (r12
    # ADVICE — Spark resolves aliases case-insensitively).
    rel, rel_alias = _sole_from_relation(masked, frm)
    sole_names = {n.lower() for n in (rel, rel_alias) if n}
    if rel and "." in rel:
        sole_names.add(rel.rsplit(".", 1)[-1].lower())
    # r11 (verdict task 4): multi-relation strip set — when the FROM
    # clause is a base-relation join whose schemas resolve through
    # ``columns_of``, every alias qualifier of a GLOBALLY-UNIQUE column
    # is strippable in the outer regions (q.col == col in the wrap's
    # SELECT *) and q.* expands to q's explicit columns. r12 (verdict
    # task 5): a column name COLLIDING across relations no longer
    # rejects — the wrap projects it under an explicit per-relation
    # alias and outer ``q.col`` references rewrite to that alias.
    join_cols: dict[str, list[str]] | None = None
    colliding: set[str] = set()
    aliased: set[str] = set()
    if not sole_names and columns_of is not None:
        jc = _join_colmap(masked, frm, columns_of)
        if jc is not None:
            join_cols, colliding, aliased = jc
    strip_names = sole_names if sole_names else set(join_cols or ())
    if qualified_stars:
        quals_l = {q.lower() for q in qualified_stars}
        if sole_names and quals_l <= sole_names:
            has_bare_star = True  # each t.* expands exactly like *
        elif join_cols and quals_l <= set(join_cols):
            # expand each q.* to q's explicit column list pre-rewrite,
            # then re-run: the recursion sees a star-free select list.
            # Unique columns expand unqualified (strippable); colliding
            # columns keep the qualifier plus an AS back to their own
            # name (the alias-map pass below rebinds them to the wrap's
            # per-relation aliases). Names are backtick-quoted (r12
            # ADVICE: resolver-returned names may need quoting).
            new_items = []
            for it in items:
                s = it.strip()
                if s.endswith(".*") and s[:-2].lower() in join_cols:
                    q = s[:-2]
                    # r13: qualify every ALIASED name (colliding + outer
                    # USING keys — q.* keeps the SIDE's key value, which
                    # differs from the merged column on unmatched rows)
                    new_items.append(", ".join(
                        f"{q}.{_quote_col(c)} AS {_quote_col(c)}"
                        if c.lower() in aliased else _quote_col(c)
                        for c in join_cols[q.lower()]
                    ))
                else:
                    new_items.append(it)
            distinct_prefix = select_list[
                : len(select_list) - len(list_body)
            ]
            expanded = (
                masked[: sel + 6]
                + distinct_prefix
                + " "
                + ", ".join(i.strip() for i in new_items)
                + " "
                + masked[frm:]
            )
            return rewrite_offset_groups(
                _restore_strings(expanded, lits), columns_of
            )
        else:
            return sql  # ambiguous/unresolvable qualifier: hidden name

    # assign one dense-rank column per distinct (partition, order) spec
    def norm(s: str | None) -> str:
        return re.sub(r"\s+", " ", (s or "").strip())

    specs: dict[tuple[str, str], str] = {}
    # r11 (ADVICE): per-(partition, arg) anchor columns for the
    # STDDEV/VAR moment rewrite — injected into the derived table next
    # to the dense ranks (window functions cannot nest, so the anchor
    # must be a materialized column). Variance is shift-invariant, and
    # moments of (x - min_partition(x)) are bounded by the partition's
    # RANGE rather than its absolute magnitude, so the Σx² − (Σx)²/n
    # subtraction no longer cancels catastrophically when mean² ≫ var.
    # MIN is deterministic per partition (unlike FIRST_VALUE), keeping
    # the partition-independence contract.
    anchors: dict[tuple[str, str], str] = {}
    replacements = []  # (start, end, replacement_text) full-span splices
    for kw, op, cl, part, ordr, frame, excl in targets:
        key = (norm(part), norm(ordr))
        alias = specs.setdefault(key, f"__grp_rank_{len(specs) + 1}")
        f = norm(frame)
        if re.fullmatch(r"\d+ PRECEDING", f, re.IGNORECASE):
            f = f"BETWEEN {f} AND CURRENT ROW"
        part_clause = f"PARTITION BY {key[0]} " if key[0] else ""
        wf = f"{part_clause}ORDER BY {alias} RANGE {f}"
        e = norm(excl).upper() if excl else ""
        if e and e != "EXCLUDE NO OTHERS" and not _frame_contains_current(f):
            # the frame never includes the current peer group, so the
            # EXCLUDE clause removes nothing — drop it
            e = ""
        if not e or e == "EXCLUDE NO OTHERS":
            replacements.append((op + 1, cl, wf))
            continue
        # EXCLUDE CURRENT ROW / GROUP / TIES: rewrite the whole
        # aggregate call to frame-minus-excluded arithmetic (SUM/COUNT/
        # AVG only — subtractable aggregates). The peer group of the
        # current row is the rows equal on (partition, order) keys.
        # locate the aggregate call ending right before OVER, walking
        # the close paren back to its balanced open (the argument may
        # itself contain calls: SUM(CAST(x AS DECIMAL(18,2))))
        j = kw - 1
        while j >= 0 and masked[j].isspace():
            j -= 1
        if j < 0 or masked[j] != ")":
            return sql
        depth2, i2 = 1, j - 1
        while i2 >= 0 and depth2:
            if masked[i2] == ")":
                depth2 += 1
            elif masked[i2] == "(":
                depth2 -= 1
            i2 -= 1
        if depth2:
            return sql
        open_idx = i2 + 1
        m_fn = re.search(r"([A-Za-z_]\w*)\s*$", masked[:open_idx])
        if not m_fn or m_fn.group(1).upper() not in (
            "SUM", "COUNT", "AVG", "MIN", "MAX",
            # r10 (verdict task 7): STDDEV/VAR are moment-subtractable —
            # n, Σx, Σx² each rewrite like COUNT/SUM even though the
            # aggregate itself is not order-decomposable
            "STDDEV", "STDDEV_SAMP", "STDDEV_POP",
            "VARIANCE", "VAR_SAMP", "VAR_POP",
            # r12: ARRAY_AGG/COLLECT_LIST decompose in ORDER (see below)
            "ARRAY_AGG", "COLLECT_LIST",
        ):
            return sql  # neither subtractable nor decomposable: reject
        fn = m_fn.group(1).upper()
        arg = masked[open_idx + 1 : j].strip()
        agg_start = m_fn.start(1)
        if (
            re.match(r"\s*DISTINCT\b", arg, re.IGNORECASE)
            or (arg == "*" and fn != "COUNT")
            or len(_split_depth0_commas(arg)) != 1
        ):
            return sql
        arg = f"({arg})" if arg != "*" else arg
        peer_keys = [key[0]] if key[0] else []
        for oexpr in _split_depth0_commas(key[1]):
            peer_keys.append(
                re.sub(
                    r"\s+(ASC|DESC)\b|\s+NULLS\s+(FIRST|LAST)\b",
                    "",
                    oexpr,
                    flags=re.IGNORECASE,
                ).strip()
            )
        wg = f"PARTITION BY {', '.join(peer_keys)}"
        if fn in ("ARRAY_AGG", "COLLECT_LIST"):
            # r12: ARRAY_AGG/COLLECT_LIST are neither subtractable nor
            # LEAST/GREATEST-combinable, but frame-minus-excluded still
            # DECOMPOSES in ORDER: the kept elements are (frame before
            # the current peer group) ++ [the current row's own value,
            # for TIES] ++ (frame after it) — each leg a plain window
            # aggregate over the dense-rank RANGE key, so CONCAT
            # preserves frame order (intra-peer tie order stays
            # engine-arbitrary, exactly as in the direct evaluation).
            # EXCLUDE CURRENT ROW stays rejected: its peers-minus-self
            # leg would need an order WITHIN the peer group, which SQL
            # leaves unspecified — no deterministic rewrite exists.
            # NULL handling matches Spark's null-skipping ARRAY_AGG
            # (the plain-frame path keeps Spark semantics too); a
            # fully-emptied frame yields NULL, not [], per the
            # standard. The typed empty array for CONCAT padding is
            # SLICE(first-non-null-leg, 1, 0) — avoids the untyped
            # ARRAY() literal.
            if e == "EXCLUDE CURRENT ROW":
                return sql
            mb = re.fullmatch(
                r"BETWEEN\s+(.+?)\s+AND\s+(.+)", f, re.IGNORECASE
            )
            if not mb:
                return sql
            lo_b, hi_b = mb.group(1).strip(), mb.group(2).strip()
            is_cur0 = lambda b: (  # noqa: E731
                b.upper() == "CURRENT ROW"
                or re.fullmatch(r"0\s+(PRECEDING|FOLLOWING)", b, re.IGNORECASE)
            )
            legs: list[str] = []
            if not is_cur0(lo_b):
                legs.append(
                    f"{fn}({arg}) OVER ({part_clause}ORDER BY {alias} "
                    f"RANGE BETWEEN {lo_b} AND 1 PRECEDING)"
                )
            if e == "EXCLUDE TIES":
                legs.append(
                    f"(CASE WHEN {arg} IS NOT NULL THEN ARRAY({arg}) END)"
                )
            if not is_cur0(hi_b):
                legs.append(
                    f"{fn}({arg}) OVER ({part_clause}ORDER BY {alias} "
                    f"RANGE BETWEEN 1 FOLLOWING AND {hi_b})"
                )
            if not legs:  # frame was exactly the peer group, all excluded
                expr = f"(CASE WHEN FALSE THEN ARRAY({arg}) END)"
            else:
                # r13 (ADVICE): guard on EMPTINESS, not nullness — Spark's
                # window COLLECT_LIST yields [] (not NULL) over a
                # runtime-empty sub-frame (partition's first row under
                # N PRECEDING..M PRECEDING legs, single-row partitions),
                # so an IS NULL guard never fires there and the rewrite
                # leaked [] where the standard (and the rewrite-time
                # provably-empty branch above) say NULL. SIZE(x)=0 -> NULL
                # covers both: SIZE(NULL) is NULL, so a NULL inner falls
                # through the ELSE unchanged (still NULL).
                if len(legs) == 1:
                    inner = f"({legs[0]})"
                else:
                    nn = f"COALESCE({', '.join(legs)})"
                    empty = f"SLICE({nn}, 1, 0)"
                    parts = ", ".join(
                        f"COALESCE({leg}, {empty})" for leg in legs
                    )
                    inner = f"CONCAT({parts})"
                expr = (
                    f"(CASE WHEN SIZE({inner}) = 0 THEN NULL "
                    f"ELSE {inner} END)"
                )
            replacements.append((agg_start, cl + 1, expr))
            continue
        if fn in ("MIN", "MAX"):
            # r9: MIN/MAX are not subtractable, but frame-minus-excluded
            # DECOMPOSES: the kept rows are (frame before the current
            # peer group) U (frame after it) [U the peer group's own
            # contribution for TIES/CURRENT ROW], each a plain window
            # aggregate, combined with LEAST/GREATEST (both skip NULLs,
            # so empty sub-frames fall out). For EXCLUDE CURRENT ROW
            # the peers-minus-self part uses ROWS frames over the peer
            # partition under an arbitrary total order — before-self U
            # after-self == all-except-self REGARDLESS of tie order.
            mb = re.fullmatch(
                r"BETWEEN\s+(.+?)\s+AND\s+(.+)", f, re.IGNORECASE
            )
            if not mb:
                return sql
            lo_b, hi_b = mb.group(1).strip(), mb.group(2).strip()
            is_cur = lambda b: (  # noqa: E731 — 0 PRECEDING/FOLLOWING == CURRENT ROW
                b.upper() == "CURRENT ROW"
                or re.fullmatch(r"0\s+(PRECEDING|FOLLOWING)", b, re.IGNORECASE)
            )
            pick = "LEAST" if fn == "MIN" else "GREATEST"
            cands: list[str] = []
            if not is_cur(lo_b):
                cands.append(
                    f"{fn}({arg}) OVER ({part_clause}ORDER BY {alias} "
                    f"RANGE BETWEEN {lo_b} AND 1 PRECEDING)"
                )
            if not is_cur(hi_b):
                cands.append(
                    f"{fn}({arg}) OVER ({part_clause}ORDER BY {alias} "
                    f"RANGE BETWEEN 1 FOLLOWING AND {hi_b})"
                )
            if e == "EXCLUDE TIES":
                cands.append(arg)
            elif e == "EXCLUDE CURRENT ROW":
                cands.append(
                    f"{fn}({arg}) OVER ({wg} ORDER BY {arg} "
                    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
                )
                cands.append(
                    f"{fn}({arg}) OVER ({wg} ORDER BY {arg} "
                    "ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)"
                )
            if not cands:  # frame was exactly the peer group, all excluded
                expr = f"(CASE WHEN FALSE THEN {arg} END)"
            elif len(cands) == 1:
                expr = f"({cands[0]})"
            else:
                expr = f"{pick}({', '.join(cands)})"
            replacements.append((agg_start, cl + 1, expr))
            continue
        cf = f"COUNT({arg}) OVER ({wf})"
        cg = f"COUNT({arg}) OVER ({wg})"
        one = "1" if arg == "*" else f"(CASE WHEN {arg} IS NOT NULL THEN 1 ELSE 0 END)"
        if e == "EXCLUDE CURRENT ROW":
            cnt = f"({cf} - {one})"
        elif e == "EXCLUDE GROUP":
            cnt = f"({cf} - {cg})"
        else:  # EXCLUDE TIES
            cnt = f"({cf} - {cg} + {one})"
        if fn == "COUNT":
            expr = f"CAST({cnt} AS BIGINT)"
        else:

            def minus_excluded(term: str) -> str:
                """Frame sum of ``term`` minus the EXCLUDE-d rows' sum."""
                tf = f"SUM({term}) OVER ({wf})"
                tg = f"SUM({term}) OVER ({wg})"
                if e == "EXCLUDE CURRENT ROW":
                    return f"({tf} - COALESCE({term}, 0))"
                if e == "EXCLUDE GROUP":
                    return f"({tf} - COALESCE({tg}, 0))"
                return f"({tf} - COALESCE({tg}, 0) + COALESCE({term}, 0))"  # TIES

            ssum = minus_excluded(arg)
            if fn == "SUM":
                expr = f"(CASE WHEN {cnt} = 0 THEN NULL ELSE {ssum} END)"
            elif fn == "AVG":
                expr = f"(CASE WHEN {cnt} = 0 THEN NULL ELSE {ssum} / {cnt} END)"
            else:
                # STDDEV/VAR via subtractable raw moments (n, Σd, Σd²)
                # of the ANCHOR-SHIFTED values d = x - min_partition(x)
                # (r11 ADVICE: variance is shift-invariant, and the
                # shifted moments are bounded by the partition's range,
                # not its absolute magnitude — without the shift,
                # Σx² - (Σx)²/n cancels catastrophically when
                # mean² ≫ variance). Each moment is computed
                # frame-minus-excluded exactly like SUM; GREATEST(0e0,·)
                # clamps the (now range-bounded) float residue where the
                # exact variance is ~0 (the standard tradeoff vs
                # single-pass Welford — the same decomposition every
                # distributed engine uses for partial aggregation).
                # NULL for n=0 (and n=1 for the _SAMP family), matching
                # Spark and DuckDB.
                # Exactness envelope (r12, ADVICE): the shifted moments
                # accumulate as DOUBLE window sums, so for integer args
                # they stay exact (and tie-order-independent) only while
                # n·range² < 2^53 per frame, range = max-min within the
                # partition. Beyond that, Σd² carries float rounding
                # that can vary with accumulation order — still far
                # better conditioned than the unshifted Σx² (which
                # risked BIGINT overflow / catastrophic cancellation at
                # mean² ≫ var), but not bit-exact.
                anchor = anchors.setdefault(
                    (key[0], arg), f"__grp_anchor_{len(anchors) + 1}"
                )
                shifted = f"(CAST({arg} AS DOUBLE) - {anchor})"
                dsum = minus_excluded(shifted)
                dsum2 = minus_excluded(f"({shifted} * {shifted})")
                base = (
                    f"(CAST({dsum2} AS DOUBLE) - CAST({dsum} AS DOUBLE)"
                    f" * CAST({dsum} AS DOUBLE) / {cnt})"
                )
                if fn in ("VAR_POP", "STDDEV_POP"):
                    var = f"GREATEST(CAST(0 AS DOUBLE), {base} / {cnt})"
                    guard = f"{cnt} = 0"
                else:  # VARIANCE/VAR_SAMP, STDDEV/STDDEV_SAMP
                    var = f"GREATEST(CAST(0 AS DOUBLE), {base} / ({cnt} - 1))"
                    guard = f"{cnt} < 2"
                val = f"SQRT({var})" if fn.startswith("STDDEV") else var
                expr = f"(CASE WHEN {guard} THEN NULL ELSE {val} END)"
        replacements.append((agg_start, cl + 1, expr))

    # splice right-to-left (keeps earlier indices valid)
    for start, end, text in sorted(replacements, reverse=True):
        masked = masked[:start] + text + masked[end:]

    # re-locate clause boundaries after splicing, then restructure
    sel = _depth0_find(masked, r"SELECT\b")
    frm = _depth0_find(masked, r"FROM\b", sel)
    tail_at = _depth0_find(masked, r"(ORDER\s+BY|LIMIT|OFFSET)\b", frm)
    body_end = tail_at if tail_at != -1 else len(masked)
    body = masked[frm:body_end].rstrip().rstrip(";")
    tail = masked[body_end:] if tail_at != -1 else ""
    rank_cols = ", ".join(
        f"DENSE_RANK() OVER ({'PARTITION BY ' + p + ' ' if p else ''}ORDER BY {o})"
        f" AS {alias}"
        for (p, o), alias in specs.items()
    )
    if anchors:
        rank_cols += ", " + ", ".join(
            f"MIN({a}) OVER ({'PARTITION BY ' + p if p else ''}) AS {alias}"
            for (p, a), alias in anchors.items()
        )
    # r8 (ADVICE): the wrap hides every FROM alias behind
    # __groups_rewrite, so a qualified reference spliced into the OUTER
    # regions (select list incl. rewritten window specs, ORDER BY /
    # LIMIT tail) would fail analysis. For the sole relation q.col ==
    # col — strip the qualifier there; the derived table's SELECT *
    # exposes the same columns unqualified. Any dotted reference that
    # survives (multi-relation alias, struct field of a hidden alias)
    # is rejected back to the caller's clear UnsupportedDialectFeature
    # instead of emitting SQL that cannot resolve.
    outer_head, outer_tail = masked[:frm], tail
    # r12 (verdict task 5): colliding column names across base relations.
    # Each colliding (qualifier, column) gets a wrap-level alias column
    # `q`.`col` AS __qc_q_i (i = ordinal in q's schema — always a valid
    # identifier regardless of the column's spelling); outer qualified
    # references rewrite to that alias BEFORE the qualifier strip, which
    # would otherwise turn them into ambiguous bare names. A bare * (or
    # DISTINCT-ed *) stays rejected under collisions: it would propagate
    # the duplicate names into the outer projection.
    qc_aliases: dict[tuple[str, str], str] = {}
    if join_cols and colliding and has_bare_star:
        return sql
    if join_cols and aliased:
        # r13 (verdict task 6): the aliased set adds OUTER-USING merged
        # keys — bare refs stay valid (Spark's wrap-* models the
        # standard's coalesced key natively), but a per-side `q.k` is a
        # DIFFERENT column (NULL on q's unmatched rows), so it rebinds
        # to an explicit wrap alias exactly like a colliding name. Bare
        # * remains legal for them (unlike true collisions) because the
        # merged output carries the name exactly once.
        for q, cols in join_cols.items():
            for i, c in enumerate(cols):
                if c.lower() in aliased:
                    qc_aliases[(q, c)] = f"__qc_{q}_{i}"
        # a select item that is EXACTLY `q.col` outputs a column named
        # col — rebinding it to the wrap alias must keep that name, so
        # alias-back bare colliding items before the generic rebind
        # (items already carrying AS, and refs inside expressions /
        # window specs / the ORDER BY tail, keep the plain rebind)
        head_sel = _depth0_find(outer_head, r"SELECT\b")
        lead = outer_head[: head_sel + 6]
        sel_list2 = outer_head[head_sel + 6 :]
        body2 = re.sub(r"^\s*DISTINCT\b", "", sel_list2, flags=re.IGNORECASE)
        lead += sel_list2[: len(sel_list2) - len(body2)]
        fixed_items = []
        for it in _split_depth0_commas(body2):
            m_bare = re.fullmatch(
                r"\s*([A-Za-z_]\w*)\s*\.\s*(`(?:[^`]|``)+`|[A-Za-z_]\w*)\s*",
                it,
            )
            if m_bare:
                q_l = m_bare.group(1).lower()
                c_txt = m_bare.group(2)
                c_name = (
                    c_txt[1:-1].replace("``", "`")
                    if c_txt.startswith("`") else c_txt
                )
                hit = next(
                    (al for (q, c), al in qc_aliases.items()
                     if q == q_l and c.lower() == c_name.lower()),
                    None,
                )
                if hit:
                    fixed_items.append(f" {hit} AS {_quote_col(c_name)}")
                    continue
            fixed_items.append(it)
        outer_head = lead + ",".join(fixed_items)
        for (q, c), qc_alias in qc_aliases.items():
            cpat = re.compile(
                # (?<!\.) — never rebind the `.a.col` tail of a struct
                # field path `s.a.col`; that shape falls through to the
                # residual-dot reject instead of a silent mis-bind
                rf"(?<!\.)\b{re.escape(q)}\s*\.\s*"
                rf"(?:`{re.escape(c)}`|{re.escape(c)}\b)",
                re.IGNORECASE,
            )
            outer_head = cpat.sub(qc_alias, outer_head)
            outer_tail = cpat.sub(qc_alias, outer_tail)
    for q in sorted(strip_names):
        qpat = re.compile(
            rf"\b{re.escape(q)}\s*\.\s*(?=[A-Za-z_*\"`])", re.IGNORECASE
        )
        outer_head = qpat.sub("", outer_head)
        outer_tail = qpat.sub("", outer_tail)
    if re.search(
        r"\b[A-Za-z_]\w*\s*\.\s*[A-Za-z_*]", f"{outer_head} {outer_tail}"
    ):
        return sql
    inner_cols = "*"
    if qc_aliases:
        inner_cols += ", " + ", ".join(
            f"{q}.{_quote_col(c)} AS {qc_alias}"
            for (q, c), qc_alias in qc_aliases.items()
        )
    rewritten = (
        f"{outer_head}FROM (SELECT {inner_cols}, {rank_cols} {body}) "
        f"__groups_rewrite {outer_tail}"
    )
    if has_bare_star:
        # a bare * in the outer projection would also emit the injected
        # rank columns — exclude them explicitly (Spark star-EXCEPT);
        # r13: the per-side OUTER-USING key aliases are injected wrap
        # columns too
        except_list = ", ".join(
            [*specs.values(), *anchors.values(), *qc_aliases.values()]
        )
        r_sel = _depth0_find(rewritten, r"SELECT\b")
        r_frm = _depth0_find(rewritten, r"FROM\b", r_sel)
        out_list = rewritten[r_sel + 6 : r_frm]
        out_body = re.sub(r"^\s*DISTINCT\b", "", out_list, flags=re.IGNORECASE)
        distinct_prefix = out_list[: len(out_list) - len(out_body)]
        out_items = [
            # validated qualified stars (sole-relation t.*) expand
            # exactly like bare * — both exclude the helper ranks
            f" * EXCEPT ({except_list})"
            if it.strip() == "*" or it.strip().endswith(".*")
            else it
            for it in _split_depth0_commas(out_body)
        ]
        rewritten = (
            rewritten[: r_sel + 6]
            + distinct_prefix
            + ",".join(out_items)
            + rewritten[r_frm:]
        )
    return _restore_strings(rewritten, lits)


def check_unsupported(sql: str) -> None:
    masked, _ = _protect_strings(sql)
    if _GROUPS_FRAME.search(masked):
        raise UnsupportedDialectFeature(
            "this GROUPS window frame cannot be rewritten to Spark SQL. "
            "Rewritten: unbounded and current-row GROUPS frames (to RANGE) "
            "and offset GROUPS frames (to RANGE over a dense rank), also "
            "under SELECT *, DISTINCT, GROUP BY/HAVING, set operations and "
            "joins, with EXCLUDE on SUM, COUNT, AVG, MIN, MAX and ARRAY_AGG. "
            "Rejected: qualified references over joins that are ambiguous "
            "(bare * over colliding columns, duplicate columns, derived "
            "tables, NATURAL chains or outer NATURAL joins) or whose tables' "
            "columns are unknown, parenthesized set-operation branches, "
            "EXCLUDE on other aggregates and ARRAY_AGG under EXCLUDE CURRENT "
            "ROW, out-of-range GROUP BY ordinals, and window arguments that "
            "are neither group keys nor aggregate calls. Use a RANGE or ROWS "
            "frame for these."
        )


def transpile(sql: str, columns_of=None) -> str:
    """Full DataFusion->Spark pre-pass applied before ``spark.sql``.

    ``columns_of`` (optional ``table -> [column]`` resolver, e.g.
    ``lambda t: spark.table(t).columns``) enables the r11
    multi-relation qualified-``t.*`` GROUPS expansion; without it the
    pure-string passes keep the conservative reject."""
    out = rewrite_groups_frames(sql)
    out = rewrite_groups_over_groupby(out)
    out = rewrite_offset_groups(out, columns_of)
    check_unsupported(out)
    out = rewrite_date_bin(out)
    out = rewrite_function_aliases(out)
    out = quote_table_at_namespace(out)
    return out
