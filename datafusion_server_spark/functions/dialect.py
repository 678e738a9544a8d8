"""DataFusion-dialect -> Spark SQL transpile pass (SURVEY §4.2 item 2).

The reference accepts DataFusion 45 SQL verbatim (the server imposes no
restriction: lib/src/context/session.rs:658-673). Spark SQL covers almost
all of it; this module patches the residual dialect edges at the API
boundary so reference queries run unmodified. It is a string-level pass
(no SQL parser in the container) over one lexical mask:

- ``SqlMask`` replaces each single-quoted literal, double-quoted or
  backtick-quoted name, ``--`` comment and ``/* */`` comment with an
  opaque placeholder, once per statement. Every rewrite below reads and
  edits the masked text, so nothing inside a literal, a quoted name or a
  comment is taken for SQL, and ``restore`` puts them back once at the
  end. A line comment comes back ending in its newline, so text spliced
  after it is never commented out.
- GROUPS window frames, which Spark lacks, in three passes:
  ``rewrite_groups_frames`` turns unbounded and current-row GROUPS frames
  into the equal RANGE frames; ``_groups_over_groupby`` moves a
  top-level aggregation under a GROUPS window into a derived table;
  ``rewrite_offset_groups`` turns the remaining offset GROUPS frames
  (and their EXCLUDE clauses) into RANGE frames over a dense rank. A
  GROUPS frame left after them raises ``UnsupportedDialectFeature``.
- ``date_bin(INTERVAL, ts[, origin])`` -> epoch-floor arithmetic;
- function-name aliases with identical argument order;
- ``table@namespace`` relations: found for lazy JDBC registration
  (reference table_register.rs:19-75) and backtick-quoted so Spark's
  parser accepts the ``@`` (SURVEY hard-parts note).
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


# --- the lexical mask ------------------------------------------------------

# Lexed as Spark's lexer does: literals and double-quoted text take
# backslash escapes, except raw ``r'...'``/``r"..."`` text, which ends at
# its first closing quote; a backslash-newline continues a ``--`` comment;
# ``/*`` opens a bracketed comment that nests (``_comment_end``). A raw
# \x00-\x03 (never SQL) is hidden like a comment, so no caller text can
# pose as a placeholder.
_LEXEME = re.compile(
    r"(?P<lit>[rR](?<!\w[rR])'[^']*'|'(?:[^'\\]|\\.|'')*')"
    r"|(?P<name>[rR](?<!\w[rR])\"[^\"]*\"|`(?:[^`]|``)*`|\"(?:[^\"\\]|\\.|\"\")*\")"
    r"|(?P<comment>--(?:\\\n|[^\n])*|/\*|[\x00-\x03])",
    re.DOTALL,
)
_BRACKET = re.compile(r"/\*|\*/")
# a placeholder is its kind's delimiter, the lexeme's index, the delimiter
_DELIM = {"lit": "\x00", "name": "\x01", "comment": "\x02"}
_PLACEHOLDER = re.compile(r"([\x00-\x02])(\d+)\1")
_COMMENT = re.compile(r"\x02\d+\x02")
# whitespace or a comment placeholder: what separates two tokens
_S = rf"(?:\s|{_COMMENT.pattern})"


class SqlMask:
    """One lexical pass over a SQL statement. ``text`` is the statement
    with each literal (``\\x00n\\x00``), quoted name (``\\x01n\\x01``) and
    comment (``\\x02n\\x02``) replaced by a placeholder, so a scan over it
    sees no quote, paren, keyword or comment marker that is not SQL.
    Equal quoted names share one placeholder: comparing placeholders
    compares the names, as comparing bare names does."""

    def __init__(self, sql: str):
        self.lexemes: list[str] = []
        self._names: dict[str, str] = {}
        out, pos = [], 0
        while m := _LEXEME.search(sql, pos):
            end = _comment_end(sql, m.start()) if m.group() == "/*" else m.end()
            out += [sql[pos : m.start()], self.hide(sql[m.start() : end], m.lastgroup)]
            pos = end
        self.text = "".join(out) + sql[pos:]

    def hide(self, lexeme: str, kind: str = "name") -> str:
        """The placeholder that stands for ``lexeme`` in ``text``."""
        if kind == "name" and lexeme in self._names:
            return self._names[lexeme]
        self.lexemes.append(lexeme)
        token = f"{_DELIM[kind]}{len(self.lexemes) - 1}{_DELIM[kind]}"
        if kind == "name":
            self._names[lexeme] = token
        return token

    def quote(self, name: str) -> str:
        """The placeholder of ``name`` as a backtick-quoted identifier."""
        return self.hide("`" + name.replace("`", "``") + "`")

    def unquote(self, token: str) -> str | None:
        """The identifier a bare name or a backtick placeholder spells;
        None for any other placeholder."""
        m = _PLACEHOLDER.fullmatch(token)
        if m is None:
            return token
        lexeme = self.lexemes[int(m.group(2))]
        return lexeme[1:-1].replace("``", "`") if lexeme[0] == "`" else None

    def code(self) -> str:
        """``text`` with each comment placeholder read as a space: the
        SQL alone, for a scan that carries no comment over."""
        return _COMMENT.sub(" ", self.text)

    def restore(self, text: str) -> str:
        def put(m: re.Match) -> str:
            lexeme = self.lexemes[int(m.group(2))]
            if lexeme[:2] == "--" and text[m.end() : m.end() + 1] not in ("", "\n"):
                return lexeme + "\n"
            return lexeme

        return _PLACEHOLDER.sub(put, text)


def _comment_end(sql: str, start: int) -> int:
    """End of the bracketed comment that opens at ``start``. Comments
    nest; an unclosed one runs to the end, where Spark rejects it."""
    depth = 0
    for m in _BRACKET.finditer(sql, start):
        depth += 1 if m.group() == "/*" else -1
        if depth == 0:
            return m.end()
    return len(sql)


def _parens(text: str) -> tuple[dict[int, int], str]:
    """The paren structure of masked text: (pair, flat). ``pair`` maps
    each matched paren's index to its partner's; ``flat`` is ``text``
    with every paren, and everything nested in one, replaced by
    ``\\x03``, so a regex over ``flat`` sees depth-0 text only."""
    pair: dict[int, int] = {}
    opens: list[int] = []
    flat = []
    depth = 0
    for i, c in enumerate(text):
        if c == "(":
            depth += 1
            opens.append(i)
        elif c == ")":
            depth -= 1
            if opens:
                o = opens.pop()
                pair[o], pair[i] = i, o
        flat.append(c if depth == 0 and c not in "()" else "\x03")
    return pair, "".join(flat)


def _find(text: str, pattern: str, start: int = 0) -> int:
    """Index of the first depth-0 match of ``pattern`` at/after ``start``, or -1."""
    m = re.compile(pattern, re.IGNORECASE).search(_parens(text)[1], start)
    return m.start() if m else -1


def _split_commas(text: str) -> list[str]:
    """``text`` split at its depth-0 commas."""
    cuts = [-1, *(m.start() for m in re.finditer(",", _parens(text)[1])), len(text)]
    return [text[a + 1 : b] for a, b in zip(cuts, cuts[1:])]


# --- table@namespace, date_bin, function aliases ---------------------------

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
    r"date_bin\s*\(\s*interval\s+(\x00\d+\x00)\s*,"
    r"\s*([^,()]+(?:\([^()]*\))?[^,()]*)\s*"
    r"(?:,\s*([^()]+(?:\([^()]*\)[^()]*)*))?\)",
    re.IGNORECASE,
)


def find_table_at_namespace(sql: str) -> list[tuple[str, str]]:
    """All ``table@namespace`` relations in the query (dedup, in order).
    Reference scans the AST (table_register.rs:40); this is the regex
    equivalent over the masked statement."""
    seen: list[tuple[str, str]] = []
    for m in _TABLE_AT_NS.finditer(SqlMask(sql).text):
        if m.groups() not in seen:
            seen.append(m.groups())
    return seen


def quote_table_at_namespace(sql: str) -> str:
    mask = SqlMask(sql)
    return mask.restore(_TABLE_AT_NS.sub(r"`\1@\2`", mask.text))


def _date_bin(text: str, mask: SqlMask) -> str:
    def repl(m: re.Match) -> str:
        interval = re.fullmatch(r"'(\d+)\s*(\w+)'", mask.lexemes[int(m.group(1)[1:-1])])
        secs = interval and _INTERVAL_SECONDS.get(interval.group(2).lower())
        if not secs:
            return m.group(0)
        width, expr = int(interval.group(1)) * secs, m.group(2).strip()
        origin = (m.group(3) or "").strip()
        if origin:
            o = f"unix_timestamp({origin})"
            return (
                f"timestamp_seconds(floor((unix_timestamp({expr}) - {o})"
                f" / {width}) * {width} + {o})"
            )
        return (
            f"timestamp_seconds(floor(unix_timestamp({expr}) / {width}) * {width})"
        )

    return _DATE_BIN.sub(repl, text)


def rewrite_date_bin(sql: str) -> str:
    """``date_bin(INTERVAL '5 minutes', ts[, origin])`` ->
    epoch-floor arithmetic. The optional third argument shifts the bucket
    boundaries: ``floor((ts - origin) / width) * width + origin``
    (DataFusion's default origin is the epoch, so the two-arg form omits
    the shift)."""
    mask = SqlMask(sql)
    return mask.restore(_date_bin(mask.text, mask))


def _function_aliases(text: str) -> str:
    for src, dst in _FN_ALIASES.items():
        text = re.sub(rf"\b{src}\s*\(", f"{dst}(", text, flags=re.IGNORECASE)
    return text


def rewrite_function_aliases(sql: str) -> str:
    mask = SqlMask(sql)
    return mask.restore(_function_aliases(mask.text))


class UnsupportedDialectFeature(ValueError):
    """DataFusion-dialect feature with no Spark analog (SURVEY §2.B gaps).
    Raised eagerly with a clear message instead of letting Spark's parser
    produce an opaque failure."""


# The GROUPS patterns below read a comment placeholder as whitespace (``_S``).
_GROUPS_FRAME = re.compile(
    rf"\bGROUPS{_S}+BETWEEN\b|\bGROUPS{_S}+(\d+|UNBOUNDED){_S}+PRECEDING\b", re.IGNORECASE
)

# A GROUPS frame whose endpoints are UNBOUNDED PRECEDING / CURRENT ROW /
# UNBOUNDED FOLLOWING is value-identical to the same RANGE frame: RANGE
# CURRENT ROW already includes every peer (tie) of the current row, which
# is exactly what GROUPS CURRENT ROW means. Only offset GROUPS frames
# (``GROUPS n PRECEDING``) have no Spark equivalent.
_GROUPS_REWRITABLE = re.compile(
    rf"\bGROUPS{_S}+(BETWEEN{_S}+(?:UNBOUNDED{_S}+PRECEDING|CURRENT{_S}+ROW){_S}+AND{_S}+"
    rf"(?:UNBOUNDED{_S}+FOLLOWING|CURRENT{_S}+ROW)|UNBOUNDED{_S}+PRECEDING)\b",
    re.IGNORECASE,
)


def _groups_frames(text: str) -> str:
    text = re.sub(
        rf"(GROUPS{_S}+[^()]*?){_S}+EXCLUDE{_S}+NO{_S}+OTHERS\b",
        r"\1",
        text,
        flags=re.IGNORECASE,
    )
    return _GROUPS_REWRITABLE.sub(
        lambda m: m.group(0)
        if re.match(rf"{_S}*EXCLUDE\b", text[m.end():], re.IGNORECASE)
        else f"RANGE {m.group(1)}",
        text,
    )


def rewrite_groups_frames(sql: str) -> str:
    """Rewrite the unbounded/current-row GROUPS frames to RANGE. A
    trailing ``EXCLUDE NO OTHERS`` is the default (dropped first); any
    OTHER EXCLUDE clause blocks this direct rewrite — Spark has no
    frame EXCLUDE syntax, so those frames fall through to
    ``rewrite_offset_groups``'s frame-minus-excluded arithmetic."""
    mask = SqlMask(sql)
    return mask.restore(_groups_frames(mask.text))


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
    rf"^(?P<head>.*?\bORDER\s+BY\b.*?){_S}*"
    rf"\bGROUPS{_S}+(?P<frame>"
    rf"BETWEEN{_S}+(?:UNBOUNDED{_S}+PRECEDING|\d+{_S}+(?:PRECEDING|FOLLOWING)|CURRENT{_S}+ROW)"
    rf"{_S}+AND{_S}+(?:UNBOUNDED{_S}+FOLLOWING|\d+{_S}+(?:PRECEDING|FOLLOWING)|CURRENT{_S}+ROW)"
    rf"|\d+{_S}+PRECEDING)"
    rf"{_S}*(?P<excl>EXCLUDE{_S}+(?:NO{_S}+OTHERS|CURRENT{_S}+ROW|GROUP|TIES))?{_S}*$",
    re.IGNORECASE | re.DOTALL,
)

_HEAD_SPLIT = re.compile(
    r"^\s*(?:PARTITION\s+BY\s+(?P<part>.*?))?\s*ORDER\s+BY\s+(?P<ord>.*)$",
    re.IGNORECASE | re.DOTALL,
)


def _over_spans(text: str, pair: dict[int, int]) -> list[tuple[int, int, int]]:
    """(over_kw_start, open_paren_index, close_paren_index) for each
    balanced ``OVER ( ... )``; ``pair`` is ``_parens(text)[0]``."""
    return [
        (m.start(), m.end() - 1, pair[m.end() - 1])
        for m in re.finditer(r"\bOVER\s*\(", text, re.IGNORECASE)
        if m.end() - 1 in pair
    ]


def _window_call(
    text: str, kw: int, pair: dict[int, int]
) -> tuple[str, int, int, int] | None:
    """(name, name_start, open, close) of the call ``FN( ... )`` that ends
    right before the OVER keyword at ``kw`` (its argument may itself
    contain calls: ``SUM(CAST(x AS DECIMAL(18,2)))``), or None."""
    close = len(text[:kw].rstrip()) - 1
    open_ = pair.get(close) if text[close : close + 1] == ")" else None
    m = open_ is not None and re.search(r"([A-Za-z_]\w*)\s*$", text[:open_])
    return (m.group(1), m.start(1), open_, close) if m else None


def _split_distinct(s: str) -> tuple[str, str]:
    """(leading ``DISTINCT`` or "", rest) of a select list or call argument."""
    m = re.match(r"\s*DISTINCT\b", s, re.IGNORECASE)
    return (s[: m.end()], s[m.end():]) if m else ("", s)


_AS_ALIAS = re.compile(r"\s+AS\s+([A-Za-z_]\w*)\s*$", re.IGNORECASE)


def _split_alias(item: str) -> tuple[str, str | None]:
    """(expression, alias) of ``expr AS alias``; (item, None) without one."""
    m = _AS_ALIAS.search(item)
    return (item[: m.start()], m.group(1)) if m else (item, None)


_SETOP_AT = re.compile(r"(?<![\w.])(UNION|INTERSECT|EXCEPT)(\s+(ALL|DISTINCT))?\b", re.I)

_FROM_STOP = r"(WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|OFFSET|WINDOW|QUALIFY)\b"
_RELATION_RE = re.compile(
    r"\s*([A-Za-z_][\w.@$]*)(?:\s+(?:AS\s+)?([A-Za-z_]\w*))?\s*$",
    re.IGNORECASE,
)


_JOIN_KW = re.compile(
    r"\b(?:(?:INNER|LEFT|RIGHT|FULL|CROSS)\s+(?:OUTER\s+)?)?JOIN\b",
    re.IGNORECASE,
)
_ALIAS_KEYWORDS = frozenset(
    {"ON", "USING", "JOIN", "INNER", "LEFT", "RIGHT", "FULL", "CROSS",
     "OUTER", "NATURAL", "WHERE"}
)


def _from_base_relations(
    text: str, frm: int, mask: SqlMask
) -> tuple[list[tuple[str, str]], list[str], bool] | None:
    """Parse the depth-0 FROM clause whose keyword is at ``frm``, when it
    is made purely of BASE relations — ``FROM t`` / ``FROM db.t x`` /
    ``FROM a [AS] x, b`` / ``a [INNER|LEFT|RIGHT|FULL] JOIN b ON ...`` /
    ``JOIN ... USING (k)`` chains — returning
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
    stop = _find(text, _FROM_STOP, frm)
    # comments are blanked: the clause is parsed, never emitted
    seg = _COMMENT.sub(" ", text[frm + 4 : stop if stop != -1 else len(text)])
    seg = seg.strip().rstrip(";").strip()
    if not seg:
        return None
    if re.search(r"\b(SEMI|ANTI|LATERAL)\b", seg, re.IGNORECASE):
        return None
    # NATURAL INNER JOIN == USING(common columns): the caller resolves
    # the common set from the schemas (two-relation FROM only; OUTER
    # NATURAL keeps the coalesced-key reject). The "NATURAL" sentinel is
    # returned as a using col entry the caller expands.
    seg, natural = re.subn(
        r"\bNATURAL\s+(INNER\s+)?(?=JOIN\b)", "", seg, flags=re.IGNORECASE
    )
    if re.search(r"\bNATURAL\b", seg, re.IGNORECASE):
        return None  # an OUTER NATURAL join, or NATURAL without a JOIN
    # USING (...) clauses are lifted out before the paren check, for
    # INNER and OUTER joins alike: the merged (coalesced) key is
    # Spark-native in the wrap's SELECT *, and the outer_using flag
    # routes per-side qualified key refs through wrap aliases
    using_cols: list[str] = []

    def _take_using(m: re.Match) -> str:
        using_cols.extend(
            mask.restore(c).strip().strip('`"').lower()
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
        m = _RELATION_RE.match(p[: m_on.start()] if m_on else p)
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


def _join_colmap(
    parsed, columns_of
) -> tuple[dict[str, list[str]], set[str], set[str]] | None:
    """(qualifier-lowercase -> column list, colliding-lowercase-names,
    wrap-aliased-lowercase-names)
    for a base-relation join FROM clause (``parsed`` by
    ``_from_base_relations``) whose every relation schema resolves
    through ``columns_of``. Qualifiers compare and key
    case-insensitively (Spark resolves aliases case-insensitively, so
    ``FROM t a JOIN s A`` IS a duplicate).
    ``colliding`` holds column names appearing in more than one
    relation: those stay unambiguous only behind an explicit qualifier,
    and the caller maps them to wrap-level aliases instead of rejecting
    the statement. ``USING`` join keys are MERGED by the join —
    ``SELECT *`` exposes them once and the bare name is unambiguous — so
    they are excluded from ``colliding``, but only when every relation
    carrying the name is merged through it (a chain of n relations
    needs n-1 USING mentions; anything less leaves an unmerged
    duplicate and rejects). Under OUTER joins the merged keys land in
    the returned ALIASED set as well: a per-side qualified ``q.k``
    differs from the merged column (NULL on q's unmatched rows), so the
    caller must rebind those refs to explicit wrap aliases rather than
    strip the qualifier. None when a relation fails to resolve, a
    qualifier duplicates, or a single relation carries an internally
    duplicated column name (ambiguous even when qualified)."""
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
        # NATURAL INNER JOIN of exactly two relations: the merged set IS
        # the schema intersection (empty intersection = a cross join:
        # nothing merges, nothing collides by construction)
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


def _frame_bounds(frame: str) -> tuple[str, str] | None:
    """(lo, hi) of a normalized ``BETWEEN lo AND hi`` frame, else None."""
    m = re.fullmatch(r"BETWEEN\s+(.+?)\s+AND\s+(.+)", frame, re.IGNORECASE)
    return (m.group(1).strip(), m.group(2).strip()) if m else None


def _is_current(bound: str) -> bool:
    """``CURRENT ROW``, or its ``0 PRECEDING``/``0 FOLLOWING`` spelling."""
    return bound.upper() == "CURRENT ROW" or bool(
        re.fullmatch(r"0\s+(PRECEDING|FOLLOWING)", bound, re.IGNORECASE)
    )


def _frame_contains_current(frame_norm: str) -> bool:
    """True when a normalized ``BETWEEN lo AND hi`` GROUPS frame always
    contains the current peer group (the only case a frame EXCLUDE
    clause can remove anything): hi is not ``d PRECEDING`` with d>=1
    and lo is not ``d FOLLOWING`` with d>=1."""
    bounds = _frame_bounds(frame_norm)
    if bounds is None:
        return True  # shorthand 'd PRECEDING' already normalized away

    def offset(bound: str, side: str) -> int:
        m = re.fullmatch(rf"(\d+)\s+{side}", bound, re.IGNORECASE)
        return int(m.group(1)) if m else 0

    return offset(bounds[1], "PRECEDING") == 0 and offset(bounds[0], "FOLLOWING") == 0


def _side_legs(fn: str, arg: str, head: str, lo: str, hi: str) -> tuple[list[str], list[str]]:
    """The window aggregates over the part of a ``BETWEEN lo AND hi``
    frame before the current peer group and over the part after it;
    ``head`` is the rewritten spec's ``[PARTITION BY ..] ORDER BY rank ``.
    A part that is empty by construction has no leg."""
    before = [] if _is_current(lo) else [
        f"{fn}({arg}) OVER ({head}RANGE BETWEEN {lo} AND 1 PRECEDING)"
    ]
    after = [] if _is_current(hi) else [
        f"{fn}({arg}) OVER ({head}RANGE BETWEEN 1 FOLLOWING AND {hi})"
    ]
    return before, after


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
    pair = _parens(it)[0]
    for kw, op, cl in _over_spans(it, pair):
        spec = _COMMENT.sub(" ", it[op + 1 : cl]).strip()
        if not _GROUPS_FRAME.search(spec):
            return it, None, False  # mixed non-GROUPS window: out of scope
        sm = _OFFSET_GROUPS_SPEC.match(spec)
        h = sm and _HEAD_SPLIT.match(sm.group("head"))
        call = h and _window_call(it, kw, pair)
        if not call:
            return it, None, False
        fn, agg_start, open_, close = call
        arg = it[open_ + 1 : close].strip()
        if _split_distinct(arg)[0]:
            return it, None, False
        warg = "*" if arg == "*" else bind(arg)
        clauses = []
        if h.group("part"):
            clauses.append(
                "PARTITION BY "
                + ", ".join(bind(p) for p in _split_commas(h.group("part")))
            )
        ocols = []
        for o in _split_commas(h.group("ord")):
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
    residual_body, alias = _split_alias(residual)
    if "\x01" in residual_body or any(
        ident.upper() not in _WRAPPER_IDENTS
        for ident in re.findall(r"[A-Za-z_]\w*", residual_body)
    ):
        return it, None, False  # a name outside the wrappers would dangle
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


def _recurse_groups_subselects(text: str, fn) -> str:
    """Apply ``fn`` to every outermost parenthesized subselect that
    contains a GROUPS frame (derived tables, IN-subqueries, set-op
    branches) — shared by the offset rewrite and the GROUP BY hoist."""
    pair = _parens(text)[0]
    out, last = [], 0
    for o in sorted(i for i, c in pair.items() if i < c):
        inner = text[o + 1 : pair[o]]
        if (
            o >= last
            and re.match(r"\s*SELECT\b", inner, re.IGNORECASE)
            and _GROUPS_FRAME.search(inner)
        ):
            out += [text[last : o + 1], fn(inner)]
            last = pair[o]
    return "".join([*out, text[last:]])


def _groups_over_groupby(text: str) -> str:
    """Offset/EXCLUDE GROUPS frames in a query with a TOP-LEVEL GROUP BY
    [HAVING]. ``rewrite_offset_groups`` cannot fire there (its dense
    rank must be computed post-aggregation, but its derived table wraps
    the pre-aggregation body), so this pre-pass moves the AGGREGATION
    into a derived table first:

        SELECT g, SUM(SUM(v)) OVER (ORDER BY g GROUPS 1 PRECEDING)
        FROM t GROUP BY g [HAVING ...]
    ->  SELECT g, SUM(__agg_w1) OVER (ORDER BY __agg_o2 GROUPS 1 ...)
        FROM (SELECT g AS g, SUM(v) AS __agg_w1, g AS __agg_o2
              FROM t GROUP BY g [HAVING ...]) __agg_groups

    after which the ordinary offset-GROUPS rewrite applies to the (now
    unaggregated) outer query. Mechanical scope — anything outside it
    returns ``text`` unchanged and rejects downstream with the clear
    UnsupportedDialectFeature: single SELECT, no DISTINCT/set ops, each
    select item either `expr AS alias` / a bare column / exactly one
    ``FN(arg) OVER (GROUPS-spec)`` call, and a trailing ORDER BY only
    over output aliases."""
    if not _GROUPS_FRAME.search(text):
        return text
    # a GROUPS+GROUP BY statement inside a derived table or set-op
    # branch is the same statement for this pass
    text = _recurse_groups_subselects(text, _groups_over_groupby)
    if not _GROUPS_FRAME.search(text):
        return text
    sel = _find(text, r"SELECT\b")
    if sel == -1 or _find(text, r"SELECT\b", sel + 6) != -1:
        return text
    frm = _find(text, r"FROM\b", sel)
    gby = _find(text, r"GROUP\s+BY\b", sel)
    if frm == -1 or gby == -1:
        return text
    for bad in (r"\bUNION\b", r"\bINTERSECT\b", r"\bEXCEPT\b",
                r"SELECT\s+DISTINCT\b"):
        if _find(text, bad, sel) != -1:
            return text
    tail_at = _find(text, r"(ORDER\s+BY|LIMIT|OFFSET)\b", gby)
    body_end = tail_at if tail_at != -1 else len(text)
    agg_body = text[frm:body_end].rstrip().rstrip(";")
    tail = text[body_end:] if tail_at != -1 else ""
    # group-key expressions (normalized): every expression this pass
    # moves into the aggregated derived table must be aggregation-level
    # — a group key verbatim or an aggregate call — or the input was
    # invalid/out-of-scope and must keep the clear downstream reject
    # rather than emit inner SQL that cannot analyze
    hav = _find(text, r"\bHAVING\b", gby)
    key_end = hav if hav != -1 and hav < body_end else body_end
    m_gb = re.compile(r"GROUP\s+BY\b", re.IGNORECASE).match(text, gby)
    keys_start = m_gb.end() if m_gb else gby + 8
    raw_keys = _split_commas(text[keys_start:key_end])
    # GROUP BY ordinals resolve to the 1-based select-list expression
    # BEFORE the hoist (the inner derived table reorders items, so a
    # positional reference must become the expression it names), then
    # the pass re-runs on the spliced text.
    if any(re.fullmatch(r"\d+", k.strip()) for k in raw_keys):
        sel_items = _split_commas(text[sel + 6 : frm])
        resolved: list[str] = []
        for k in raw_keys:
            ks = k.strip()
            if not re.fullmatch(r"\d+", ks):
                resolved.append(ks)
                continue
            pos = int(ks)
            if not 1 <= pos <= len(sel_items):
                return text  # out-of-range ordinal: keep the clear reject
            item = sel_items[pos - 1].strip()
            if _GROUPS_FRAME.search(item) or _find(item, r"OVER\b") != -1:
                return text  # grouping by a window item: invalid input
            expr = _split_alias(item)[0].strip()
            if expr == "*" or expr.endswith(".*"):
                return text
            if re.fullmatch(r"\d+", expr):
                # the ordinal names an integer LITERAL ("SELECT 1 AS one
                # ... GROUP BY 1"): splicing it back would recurse on
                # identical text forever; grouping by a constant is out
                # of mechanical scope, keep the reject
                return text
            resolved.append(expr)
        spliced = (
            text[:keys_start] + " " + ", ".join(resolved) + " " + text[key_end:]
        )
        return _groups_over_groupby(spliced)
    gby_keys = {re.sub(r"\s+", " ", k.strip()).lower() for k in raw_keys}

    def _agg_level(expr: str) -> bool:
        """True iff every LEAF of the expression is aggregation-level:
        a group key verbatim, an aggregate call, or a literal. A compound
        like "SUM(x) + (v)" carries a raw column at aggregation level
        (inner SQL that fails Spark analysis), while "SUM(v) + COUNT(x)"
        is valid; so this splits on depth-0 binary operators and
        recurses, verifying every operand on its own."""
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
        pair, flat = _parens(e)
        # split on depth-0 binary operators (+ - * / % and ||)
        ops = [m.span() for m in re.finditer(r"\|\|?|[+\-*/%]", flat)]
        if ops:
            if any(b - a == 1 and e[a] == "|" for a, b in ops):
                return False  # lone '|' is not SQL
            cuts = [0, *(x for span in ops for x in span), len(e)]
            parts = [e[a:b] for a, b in zip(cuts[::2], cuts[1::2])]
            # an empty first part is a unary +/- sign; other empties
            # (e.g. "a ++ b" artifacts) reject
            if parts[0].strip() == "":
                parts = parts[1:]
            return bool(parts) and all(_agg_level(p) for p in parts)
        if pair.get(0) == len(e) - 1:  # fully parenthesized
            return _agg_level(e[1:-1])
        # a single aggregate call whose '(' balances at the very end
        m_call = re.match(r"^([A-Za-z_]\w*)\s*\(", e)
        return bool(m_call) and m_call.group(1).upper() in _AGGREGATE_FNS and (
            pair.get(m_call.end() - 1) == len(e) - 1
        )

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
    for raw in _split_commas(text[sel + 6 : frm]):
        it = raw.strip()
        if not _GROUPS_FRAME.search(it):
            expr, alias = _split_alias(it)
            if alias is None and not re.fullmatch(r"[A-Za-z_]\w*", it):
                return text
            alias = alias or it
            inner_items.append(f"{expr.strip()} AS {alias}")
            outer_items.append(alias)
            out_names.add(alias.lower())
            continue
        new_it, alias, ok = _rebind_groups_windows_in_item(it, bind)
        if not ok:
            return text
        outer_items.append(new_it)
        if alias:
            out_names.add(alias.lower())
        any_window = True
    if not any_window or bad_binding:
        return text
    mt = re.match(
        r"^\s*ORDER\s+BY\s+(.*?)\s*(\bLIMIT\b.*|\bOFFSET\b.*)?$",
        tail,
        re.IGNORECASE | re.DOTALL,
    )
    if mt and mt.group(1):
        for o in _split_commas(mt.group(1)):
            mdir = _ORDER_DIR_TAIL.search(o)
            name = (o[: mdir.start()] if mdir else o).strip()
            if not re.fullmatch(r"[A-Za-z_]\w*", name) or name.lower() not in out_names:
                return text  # tail references a non-output expression
    inner_sql = f"SELECT {', '.join(inner_items)} {agg_body}"
    return (
        f"{text[:sel]}SELECT {', '.join(outer_items)} "
        f"FROM ({inner_sql}) __agg_groups {tail}"
    )


def rewrite_offset_groups(sql: str, columns_of=None) -> str:
    """Rewrite offset GROUPS frames to dense-rank-keyed RANGE frames.
    Set-operation statements rewrite branch-by-branch; a bare ``*``
    projection becomes ``* EXCEPT (<injected ranks>)`` so the helper
    columns never leak; DISTINCT is fine (it sees only the projected
    list); a qualified ``t.*`` over a SINGLE unjoined relation expands
    like ``*``. EXCLUDE CURRENT ROW/GROUP/TIES rewrites to
    frame-minus-excluded arithmetic (peer group = rows equal on the
    partition+order keys): subtraction with an effective-count CASE (so
    an emptied frame still yields NULL) for SUM/COUNT/AVG and, through
    raw moments, STDDEV/VAR; LEAST/GREATEST over the before-/after-group
    sub-frames for MIN/MAX (plus a peers-minus-self ROWS pair for
    EXCLUDE CURRENT ROW); an order-preserving CONCAT of the same
    sub-frames for ARRAY_AGG/COLLECT_LIST under EXCLUDE GROUP/TIES.
    Statements the rewrite cannot prove safe (top-level GROUP BY/HAVING,
    multi-relation ``t.*``, EXCLUDE on aggregates neither subtractable
    nor order-decomposable) are returned unchanged, and ``transpile``
    then rejects them.

    When ``columns_of`` (a ``table -> [column]`` resolver over the
    registered views, e.g. ``lambda t: spark.table(t).columns``) is
    supplied, a qualified ``t.*`` over a MULTI-relation base join
    expands to t's explicit column list pre-rewrite — valid only when
    every relation resolves, so the derived-table wrap's ``SELECT *``
    exposes each column unambiguously; qualified outer references strip
    to bare columns under the same proof. Genuinely ambiguous bodies
    (duplicate column names, derived tables, unresolvable relations)
    keep the clear reject."""
    mask = SqlMask(sql)
    return mask.restore(_offset_groups(mask.text, mask, columns_of))


def _offset_groups(text: str, mask: SqlMask, columns_of) -> str:
    if not _GROUPS_FRAME.search(text):
        return text
    # 1) recurse into parenthesized subselects that contain a GROUPS
    # frame (IN (...) subqueries, derived tables, parenthesized set-op
    # branches) — each is a standalone statement for this rewrite
    text = _recurse_groups_subselects(
        text, lambda s: _offset_groups(s, mask, columns_of)
    )
    if not _GROUPS_FRAME.search(text):
        return text
    # 2) set-operation statements: rewrite each branch independently (a
    # trailing statement-level ORDER BY/LIMIT re-binds to the whole set
    # op after reassembly). A star-EXCEPT (``* EXCEPT (...)``) is a
    # projection modifier, not a set op.
    flat = _parens(text)[1]
    setops = [
        m.span() for m in _SETOP_AT.finditer(flat)
        if not flat[: m.start()].rstrip().endswith("*")
    ]
    if setops:
        out, last = [], 0
        for a, b in setops:
            out += [_offset_groups(text[last:a], mask, columns_of), text[a:b]]
            last = b
        return "".join([*out, _offset_groups(text[last:], mask, columns_of)])
    # an OVER nested inside a SUBQUERY's parens (content starts with
    # SELECT) belongs to that subquery's rewrite, never this statement's
    # — scalar-function parens (ROUND(CAST(SUM(...) OVER ...))) are fine.
    # The subselect recursion above already handled rewritable
    # subqueries; anything left is unsafe.
    pair = _parens(text)[0]
    targets = []  # (over_kw, open, close, part, ord, frame, excl)
    for kw, op, cl in _over_spans(text, pair):
        m = _OFFSET_GROUPS_SPEC.match(_COMMENT.sub(" ", text[op + 1 : cl]))
        if not m:
            continue
        if any(
            o < kw < c and re.match(r"\s*SELECT\b", text[o + 1 :], re.IGNORECASE)
            for o, c in pair.items()
        ):
            return text
        h = _HEAD_SPLIT.match(m.group("head"))
        if not h:
            return text
        targets.append(
            (kw, op, cl, h.group("part"), h.group("ord"), m.group("frame"),
             m.group("excl"))
        )
    if not targets:
        return text

    # safety gates: one top-level SELECT, no top-level GROUP BY/HAVING
    # (the rank must be computed pre-window but post-aggregation there).
    # A qualified star is fine when the FROM clause is a SINGLE unjoined
    # relation matching the qualifier (then t.* == *); other qualified
    # stars stay rejected (the derived-table alias hides the relation).
    sel = _find(text, r"SELECT\b")
    if sel == -1 or _find(text, r"SELECT\b", sel + 6) != -1:
        return text
    frm = _find(text, r"FROM\b", sel)
    if frm == -1:
        return text
    for bad in (r"GROUP\s+BY\b", r"\bHAVING\b", r"\bUNION\b", r"\bINTERSECT\b",
                r"\bEXCEPT\b", r"\bEXCLUDE\b"):
        if _find(text, bad, sel) != -1:
            return text
    distinct, list_body = _split_distinct(text[sel + 6 : frm])
    items = _split_commas(list_body)
    has_bare_star = any(it.strip() == "*" for it in items)
    qualified_stars = {
        it.strip()[:-2] for it in items if it.strip().endswith(".*")
    }
    # the names of a SINGLE unjoined base relation (``FROM db.t x``: db.t,
    # t, x), captured pre-splice: used to validate t.* AND to strip
    # outer-query qualifiers after the wrap. Qualifiers compare and strip
    # case-insensitively, as Spark resolves them.
    rels = _from_base_relations(text, frm, mask)
    sole_names: set[str] = set()
    if rels and len(rels[0]) == 1 and not rels[1]:
        (rel, qual), = rels[0]
        sole_names = {rel.lower(), qual.lower(), rel.rsplit(".", 1)[-1].lower()}
    # multi-relation strip set: when the FROM clause is a base-relation
    # join whose schemas resolve through ``columns_of``, every alias
    # qualifier of a GLOBALLY-UNIQUE column is strippable in the outer
    # regions (q.col == col in the wrap's SELECT *) and q.* expands to
    # q's explicit columns. A column name COLLIDING across relations is
    # projected by the wrap under an explicit per-relation alias, and
    # outer ``q.col`` references rewrite to that alias.
    join_cols: dict[str, list[str]] | None = None
    colliding: set[str] = set()
    aliased: set[str] = set()
    if not sole_names:
        jc = _join_colmap(rels, columns_of)
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
            # Unique columns expand unqualified (strippable); ALIASED
            # columns (colliding, and OUTER-USING keys, where q.* keeps
            # the SIDE's key value) keep the qualifier plus an AS back
            # to their own name, which the alias-map pass below rebinds
            # to the wrap's per-relation aliases. Resolver-returned
            # names are quoted: they may need it.
            new_items = []
            for it in items:
                s = it.strip()
                if s.endswith(".*") and s[:-2].lower() in join_cols:
                    q = s[:-2]
                    new_items.append(", ".join(
                        f"{q}.{mask.quote(c)} AS {mask.quote(c)}"
                        if c.lower() in aliased else mask.quote(c)
                        for c in join_cols[q.lower()]
                    ))
                else:
                    new_items.append(it)
            expanded = (
                f"{text[: sel + 6]}{distinct} "
                f"{', '.join(i.strip() for i in new_items)} {text[frm:]}"
            )
            return _offset_groups(expanded, mask, columns_of)
        else:
            return text  # ambiguous/unresolvable qualifier: hidden name

    # assign one dense-rank column per distinct (partition, order) spec
    def norm(s: str | None) -> str:
        return re.sub(r"\s+", " ", (s or "").strip())

    specs: dict[tuple[str, str], str] = {}
    # per-(partition, arg) anchor columns for the STDDEV/VAR moment
    # rewrite — injected into the derived table next to the dense ranks
    # (window functions cannot nest, so the anchor must be a
    # materialized column). Variance is shift-invariant, and moments of
    # (x - min_partition(x)) are bounded by the partition's RANGE rather
    # than its absolute magnitude, so the Σx² − (Σx)²/n subtraction no
    # longer cancels catastrophically when mean² ≫ var. MIN is
    # deterministic per partition (unlike FIRST_VALUE), keeping the
    # partition-independence contract.
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
        # aggregate call to frame-minus-excluded arithmetic. The peer
        # group of the current row is the rows equal on (partition,
        # order) keys.
        call = _window_call(text, kw, pair)
        if not call or call[0].upper() not in (
            "SUM", "COUNT", "AVG", "MIN", "MAX",
            # STDDEV/VAR are moment-subtractable: n, Σx, Σx² each
            # rewrite like COUNT/SUM even though the aggregate itself is
            # not order-decomposable
            "STDDEV", "STDDEV_SAMP", "STDDEV_POP",
            "VARIANCE", "VAR_SAMP", "VAR_POP",
            # ARRAY_AGG/COLLECT_LIST decompose in ORDER (see below)
            "ARRAY_AGG", "COLLECT_LIST",
        ):
            return text  # neither subtractable nor decomposable: reject
        fn, agg_start, open_, close = call
        fn = fn.upper()
        arg = text[open_ + 1 : close].strip()
        if (
            _split_distinct(arg)[0]
            or (arg == "*" and fn != "COUNT")
            or len(_split_commas(arg)) != 1
        ):
            return text
        arg = f"({arg})" if arg != "*" else arg
        peer_keys = [key[0]] if key[0] else []
        for oexpr in _split_commas(key[1]):
            peer_keys.append(
                re.sub(
                    r"\s+(ASC|DESC)\b|\s+NULLS\s+(FIRST|LAST)\b",
                    "",
                    oexpr,
                    flags=re.IGNORECASE,
                ).strip()
            )
        wg = f"PARTITION BY {', '.join(peer_keys)}"
        bounds = _frame_bounds(f)
        if fn in ("ARRAY_AGG", "COLLECT_LIST"):
            # ARRAY_AGG/COLLECT_LIST are neither subtractable nor
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
            if e == "EXCLUDE CURRENT ROW" or bounds is None:
                return text
            before, after = _side_legs(fn, arg, f"{part_clause}ORDER BY {alias} ", *bounds)
            ties = [f"(CASE WHEN {arg} IS NOT NULL THEN ARRAY({arg}) END)"]
            legs = [*before, *(ties if e == "EXCLUDE TIES" else []), *after]
            if not legs:  # frame was exactly the peer group, all excluded
                expr = f"(CASE WHEN FALSE THEN ARRAY({arg}) END)"
            else:
                # guard on EMPTINESS, not nullness: Spark's window
                # COLLECT_LIST yields [] (not NULL) over a runtime-empty
                # sub-frame (a partition's first row under N PRECEDING..M
                # PRECEDING legs, single-row partitions), where the
                # standard says NULL. SIZE(x)=0 -> NULL covers both:
                # SIZE(NULL) is NULL, so a NULL inner falls through the
                # ELSE unchanged (still NULL).
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
            # MIN/MAX are not subtractable, but frame-minus-excluded
            # DECOMPOSES: the kept rows are (frame before the current
            # peer group) U (frame after it) [U the peer group's own
            # contribution for TIES/CURRENT ROW], each a plain window
            # aggregate, combined with LEAST/GREATEST (both skip NULLs,
            # so empty sub-frames fall out). For EXCLUDE CURRENT ROW
            # the peers-minus-self part uses ROWS frames over the peer
            # partition under an arbitrary total order — before-self U
            # after-self == all-except-self REGARDLESS of tie order.
            if bounds is None:
                return text
            before, after = _side_legs(fn, arg, f"{part_clause}ORDER BY {alias} ", *bounds)
            cands = [*before, *after]
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
                pick = "LEAST" if fn == "MIN" else "GREATEST"
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
                # (variance is shift-invariant, and the shifted moments
                # are bounded by the partition's range, not its absolute
                # magnitude — without the shift, Σx² - (Σx)²/n cancels
                # catastrophically when mean² ≫ variance). Each moment is
                # computed frame-minus-excluded exactly like SUM;
                # GREATEST(0e0,·) clamps the (now range-bounded) float
                # residue where the exact variance is ~0 (the standard
                # tradeoff vs single-pass Welford — the same
                # decomposition every distributed engine uses for
                # partial aggregation). NULL for n=0 (and n=1 for the
                # _SAMP family), matching Spark and DuckDB.
                # Exactness envelope: the shifted moments accumulate as
                # DOUBLE window sums, so for integer args they stay
                # exact (and tie-order-independent) only while
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
    spliced = text
    for start, end, new in sorted(replacements, reverse=True):
        spliced = spliced[:start] + new + spliced[end:]

    # re-locate clause boundaries after splicing, then restructure
    sel = _find(spliced, r"SELECT\b")
    frm = _find(spliced, r"FROM\b", sel)
    tail_at = _find(spliced, r"(ORDER\s+BY|LIMIT|OFFSET)\b", frm)
    body_end = tail_at if tail_at != -1 else len(spliced)
    body = spliced[frm:body_end].rstrip().rstrip(";")
    tail = spliced[body_end:] if tail_at != -1 else ""
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
    # the wrap hides every FROM alias behind __groups_rewrite, so a
    # qualified reference spliced into the OUTER regions (select list
    # incl. rewritten window specs, ORDER BY / LIMIT tail) would fail
    # analysis. For the sole relation q.col == col — strip the qualifier
    # there; the derived table's SELECT * exposes the same columns
    # unqualified. Any dotted reference that survives (multi-relation
    # alias, struct field of a hidden alias) is rejected back to the
    # caller's clear UnsupportedDialectFeature instead of emitting SQL
    # that cannot resolve.
    outer_head, outer_tail = spliced[:frm], tail
    # Colliding column names across base relations: each colliding
    # (qualifier, column) gets a wrap-level alias column `q`.`col` AS
    # __qc_q_i (i = ordinal in q's schema — always a valid identifier
    # regardless of the column's spelling); outer qualified references
    # rewrite to that alias BEFORE the qualifier strip, which would
    # otherwise turn them into ambiguous bare names. A bare * (or
    # DISTINCT-ed *) stays rejected under collisions: it would propagate
    # the duplicate names into the outer projection.
    qc_aliases: dict[tuple[str, str], str] = {}
    if join_cols and colliding and has_bare_star:
        return text
    if join_cols and aliased:
        # the aliased set adds OUTER-USING merged keys — bare refs stay
        # valid (Spark's wrap-* models the standard's coalesced key
        # natively), but a per-side `q.k` is a DIFFERENT column (NULL on
        # q's unmatched rows), so it rebinds to an explicit wrap alias
        # exactly like a colliding name. Bare * remains legal for them
        # (unlike true collisions) because the merged output carries the
        # name exactly once.
        for q, cols in join_cols.items():
            for i, c in enumerate(cols):
                if c.lower() in aliased:
                    qc_aliases[(q, c)] = f"__qc_{q}_{i}"
        by_ref = {(q, c.lower()): al for (q, c), al in qc_aliases.items()}
        qualified_ref = re.compile(
            # (?<![.\w]) — never rebind the `.a.col` tail of a struct
            # field path `s.a.col`; that shape falls through to the
            # residual-dot reject instead of a silent mis-bind
            r"(?<![.\w])([A-Za-z_]\w*)\s*\.\s*(\x01\d+\x01|[A-Za-z_]\w*)"
        )

        def rebound(m: re.Match) -> str | None:
            name = mask.unquote(m.group(2))
            return name and by_ref.get((m.group(1).lower(), name.lower()))

        # a select item that is EXACTLY `q.col` outputs a column named
        # col — rebinding it to the wrap alias must keep that name, so
        # alias-back bare colliding items before the generic rebind
        # (items already carrying AS, and refs inside expressions /
        # window specs / the ORDER BY tail, keep the plain rebind)
        head_sel = _find(outer_head, r"SELECT\b")
        distinct2, body2 = _split_distinct(outer_head[head_sel + 6 :])
        fixed_items = []
        for it in _split_commas(body2):
            m_bare = qualified_ref.fullmatch(it.strip())
            hit = m_bare and rebound(m_bare)
            fixed_items.append(
                f" {hit} AS {mask.quote(mask.unquote(m_bare.group(2)))}"
                if hit else it
            )
        outer_head = outer_head[: head_sel + 6] + distinct2 + ",".join(fixed_items)
        outer_head, outer_tail = (
            qualified_ref.sub(lambda m: rebound(m) or m.group(0), s)
            for s in (outer_head, outer_tail)
        )
    for q in sorted(strip_names):
        qpat = re.compile(
            rf"\b{re.escape(q)}\s*\.\s*(?=[A-Za-z_*\x01])", re.IGNORECASE
        )
        outer_head = qpat.sub("", outer_head)
        outer_tail = qpat.sub("", outer_tail)
    if re.search(
        r"\b[A-Za-z_]\w*\s*\.\s*[A-Za-z_*]", f"{outer_head} {outer_tail}"
    ):
        return text
    inner_cols = "*"
    if qc_aliases:
        inner_cols += ", " + ", ".join(
            f"{q}.{mask.quote(c)} AS {qc_alias}"
            for (q, c), qc_alias in qc_aliases.items()
        )
    rewritten = (
        f"{outer_head}FROM (SELECT {inner_cols}, {rank_cols} {body}) "
        f"__groups_rewrite {outer_tail}"
    )
    if has_bare_star:
        # a bare * in the outer projection would also emit the injected
        # rank, anchor and per-side OUTER-USING key columns — exclude
        # them explicitly (Spark star-EXCEPT)
        except_list = ", ".join(
            [*specs.values(), *anchors.values(), *qc_aliases.values()]
        )
        r_sel = _find(rewritten, r"SELECT\b")
        r_frm = _find(rewritten, r"FROM\b", r_sel)
        distinct3, out_body = _split_distinct(rewritten[r_sel + 6 : r_frm])
        out_items = [
            # validated qualified stars (sole-relation t.*) expand
            # exactly like bare * — both exclude the helper ranks
            f" * EXCEPT ({except_list})"
            if it.strip() == "*" or it.strip().endswith(".*")
            else it
            for it in _split_commas(out_body)
        ]
        rewritten = (
            rewritten[: r_sel + 6]
            + distinct3
            + ",".join(out_items)
            + rewritten[r_frm:]
        )
    return rewritten


_GROUPS_REJECT = (
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
    ``lambda t: spark.table(t).columns``) enables the multi-relation
    qualified-``t.*`` GROUPS expansion; without it the pure-string
    passes keep the conservative reject."""
    mask = SqlMask(sql)
    out = mask.text
    if _GROUPS_FRAME.search(out):
        out = _groups_frames(out)
        out = _groups_over_groupby(out)
        out = _offset_groups(out, mask, columns_of)
        if _GROUPS_FRAME.search(out):
            raise UnsupportedDialectFeature(_GROUPS_REJECT)
    out = _date_bin(out, mask)
    out = _function_aliases(out)
    return mask.restore(_TABLE_AT_NS.sub(r"`\1@\2`", out))
