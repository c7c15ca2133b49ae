"""PG-dialect → Spark SQL rewriting — the dialect gap layer (SURVEY.md §3A).

The reference parses PostgreSQL grammar (vendored flex/bison parser); Spark
SQL covers almost all of it natively (including ``expr::type`` casts since
3.4). What remains are the PG-isms Spark does not know, lowered in one
path by :func:`rewrite`:

  - operator folds (``~``, ``->>``, ``#>>``, ``- 'k'``, ``::?``, ``[N]``,
    ...) in ``dialect_ast`` — a tokenizer and forward operand parser;
  - clause-level lowerings (QUALIFY, FETCH, SIMILAR TO, date_bin,
    generate_series, EXTRACT fields, OVERLAPS, ...) in this module, on
    text whose string literals are stashed (``_rewrite_clauses``);
  - PG's null-ordering defaults (``apply_pg_null_ordering``), last.

The lexical primitives the catalog shares live here too: the quote-aware
balanced-paren scanner and top-level comma splitter. Unknown constructs
pass through untouched so plain Spark SQL always works.
"""

from __future__ import annotations

import re


_STR_LIT = re.compile(r"'(?:[^']|'')*'")


def _protect_strings(sql: str) -> tuple[str, list[str]]:
    literals: list[str] = []

    def stash(m: re.Match) -> str:
        literals.append(m.group(0))
        return f"\x00{len(literals) - 1}\x00"

    return _STR_LIT.sub(stash, sql), literals


def _restore_strings(sql: str, literals: list[str]) -> str:
    def unstash(m: re.Match) -> str:
        return literals[int(m.group(1))]

    return re.sub("\x00(\\d+)\x00", unstash, sql)


def _protect_groups(body: str) -> tuple[str, list[str]]:
    """Stash each outermost parenthesised group of ``body`` (string
    literals already stashed) as an opaque token, so a clause regex sees
    only the statement's own keywords, never a subquery's WHERE or FROM.
    From an unbalanced '(' on, the text is left as it is."""
    groups: list[str] = []
    out, i = [], 0
    while (j := body.find("(", i)) >= 0:
        try:
            end = _scan_balanced(body, j)
        except ValueError:
            break
        groups.append(body[j:end])
        out.append(f"{body[i:j]}\x01{len(groups) - 1}\x01")
        i = end
    out.append(body[i:])
    return "".join(out), groups


def _restore_groups(sql: str, groups: list[str]) -> str:
    return re.sub("\x01(\\d+)\x01", lambda m: groups[int(m.group(1))], sql)


def _lit_text(token: str) -> str:
    """'abc' -> abc (unescape doubled quotes)."""
    return token[1:-1].replace("''", "'")


def _scan_balanced(text: str, i: int) -> int:
    """``text[i]`` is '('; return the index just past its matching ')',
    skipping single-quoted strings (with '' escapes) and double-quoted
    identifiers. Raises ``ValueError`` when the group never closes."""
    depth, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "'":
            i += 1
            while i < n:
                if text[i] == "'":
                    if i + 1 < n and text[i + 1] == "'":
                        i += 2
                        continue
                    break
                i += 1
        elif c == '"':
            i += 1
            while i < n and text[i] != '"':
                i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    raise ValueError(f"unbalanced parentheses near: {text[:i][-60:]!r}")


def _split_top_level(text: str) -> list[str]:
    """Split on commas not nested in (), [], <> or quotes (column-def
    lists, argument lists, SET lists). Angle brackets only count OUTSIDE
    parens: a generic type (`struct<a:int, b:int>`) sits at paren depth 0
    in a column list, while `<` as a comparison only occurs inside
    CHECK(...) parens. A trailing blank piece is dropped."""
    parts, cur, depth, angle, in_str = [], "", 0, 0, False
    for ch in text:
        if ch == "'":
            in_str = not in_str
        if not in_str:
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
            elif depth == 0 and ch == "<" and (
                angle > 0
                or re.search(
                    r"(?:^|[^A-Za-z0-9_])(?:struct|array|map)\s*$",
                    cur,
                    re.IGNORECASE,
                )
            ):
                # only a generic-type head opens an angle group — a bare
                # depth-0 comparison ('a < b') must not suppress splitting
                angle += 1
            elif depth == 0 and ch == ">" and angle > 0:
                angle -= 1
            if ch == "," and depth == 0 and angle == 0:
                parts.append(cur)
                cur = ""
                continue
        cur += ch
    if cur.strip():
        parts.append(cur)
    return parts


# --- QUALIFY (PG-adjacent window filter, absent from Spark's grammar) --------
# Lowered structurally, not by regex alone: the owning SELECT is found by a
# depth-aware backward scan, the predicate's end by a depth-aware forward
# scan, so QUALIFY inside CTEs/subqueries and QUALIFY predicates containing
# parenthesized window calls both work. Two lowering shapes:
#   pred references select-list ALIASES (no OVER in the predicate):
#       SELECT <list> FROM ... QUALIFY p  →  SELECT * FROM (SELECT <list>
#       FROM ...) WHERE p
#   pred contains window calls directly:
#       →  SELECT * EXCEPT(__otx_qualify) FROM (SELECT <list>,
#          (p) AS __otx_qualify FROM ...) WHERE __otx_qualify
# (Mixing an alias reference and a direct window call in one QUALIFY is not
# supported — the hidden-column form cannot see sibling aliases.)

# --- SIMILAR TO (PG SQL-regex match) -----------------------------------------
# PG's third pattern-match operator (after LIKE and ~): SQL-regex, where
# % and _ are the wildcards, | * + ? {} () [] keep their regex meanings,
# and . ^ $ are LITERALS. Lowered to an anchored RLIKE; the negated form
# uses Spark's native NOT RLIKE so the LHS never needs re-parsing.


def _similar_to_regex(pat: str) -> str:
    """SQL-regex pattern text -> anchored Java regex."""
    out, i, depth = [], 0, 0
    while i < len(pat):
        ch = pat[i]
        if ch == "\\" and i + 1 < len(pat):  # escaped char: literal
            out.append(re.escape(pat[i + 1]))
            i += 2
            continue
        if depth:
            out.append(ch)
            if ch == "]":
                depth = 0
        elif ch == "[":
            depth = 1
            out.append(ch)
        elif ch == "%":
            out.append(".*")
        elif ch == "_":
            out.append(".")
        elif ch in ".^$":
            out.append("\\" + ch)
        else:
            out.append(ch)
        i += 1
    return "^(?:" + "".join(out) + ")$"


def _rewrite_similar_to(body: str, lits: list[str]) -> str:
    """Rewrite [NOT] SIMILAR TO '<pat>' in string-protected SQL text.
    Appends converted patterns to ``lits`` as new stashed literals."""

    def sub(m: re.Match) -> str:
        pat = _lit_text(lits[int(m.group("lit"))])
        # double the backslashes: Spark's SQL string parser consumes one
        # level of escaping before the regex engine sees the pattern
        converted = (
            "'"
            + _similar_to_regex(pat)
            .replace("\\", "\\\\")
            .replace("'", "''")
            + "'"
        )
        lits.append(converted)
        tok = f"\x00{len(lits) - 1}\x00"
        neg = "NOT " if m.group("neg") else ""
        return f"{neg}RLIKE {tok}"

    return re.sub(
        r"(?P<neg>NOT\s+)?SIMILAR\s+TO\s+\x00(?P<lit>\d+)\x00",
        sub,
        body,
        flags=re.IGNORECASE,
    )


_QUAL_TOK = re.compile(r"[()]|\b[A-Za-z_][A-Za-z0-9_]*\b")
_QUAL_TAIL_KWS = {
    "ORDER", "LIMIT", "OFFSET", "UNION", "INTERSECT", "EXCEPT", "FETCH",
}


def _rewrite_qualify(body: str) -> str:
    """Rewrite every QUALIFY clause in string-protected SQL text."""
    while True:
        m = re.search(r"\bQUALIFY\b", body, re.IGNORECASE)
        if m is None:
            return body
        qstart, qkw_end = m.start(), m.end()

        depth = 0
        pred_end = len(body)
        for t in _QUAL_TOK.finditer(body, qkw_end):
            tx = t.group(0)
            if tx == "(":
                depth += 1
            elif tx == ")":
                if depth == 0:
                    pred_end = t.start()
                    break
                depth -= 1
            elif depth == 0 and tx.upper() in _QUAL_TAIL_KWS:
                pred_end = t.start()
                break

        depth = 0
        sel_start = None
        for t in reversed(list(_QUAL_TOK.finditer(body, 0, qstart))):
            tx = t.group(0)
            if tx == ")":
                depth += 1
            elif tx == "(":
                if depth == 0:
                    break
                depth -= 1
            elif depth == 0 and tx.upper() == "SELECT":
                sel_start = t.start()
                break
        if sel_start is None:
            raise ValueError("QUALIFY without an owning SELECT")

        inner = body[sel_start:qstart].rstrip()
        pred = body[qkw_end:pred_end].strip()
        if re.search(r"\bOVER\b", pred, re.IGNORECASE):
            depth = 0
            from_at = len(inner)
            for t in _QUAL_TOK.finditer(inner, len("SELECT")):
                tx = t.group(0)
                if tx == "(":
                    depth += 1
                elif tx == ")":
                    depth -= 1
                elif depth == 0 and tx.upper() == "FROM":
                    from_at = t.start()
                    break
            spliced = (
                inner[:from_at].rstrip()
                + f", ({pred}) AS __otx_qualify "
                + inner[from_at:]
            )
            new = (
                "SELECT * EXCEPT(__otx_qualify) FROM ("
                + spliced
                + ") WHERE __otx_qualify"
            )
        else:
            new = f"SELECT * FROM ({inner}) WHERE {pred}"
        body = body[:sel_start] + new + " " + body[pred_end:]


_FETCH_RE = re.compile(
    r"\bFETCH\s+(?:FIRST|NEXT)\s+(?:(\d+)\s+)?ROWS?\s+(ONLY|WITH\s+TIES)",
    re.IGNORECASE,
)
# clause keywords that terminate the backward ORDER-BY scan: hitting one
# at depth 0 means the FETCH has no owning ORDER BY at this query level
_FETCH_STOP_KWS = {
    "SELECT", "FROM", "WHERE", "GROUP", "HAVING", "QUALIFY",
    "UNION", "INTERSECT", "EXCEPT", "LIMIT", "VALUES",
}


def _rewrite_fetch(body: str) -> str:
    """Lower SQL-standard FETCH clauses (PG surface Spark doesn't parse;
    reference grammar components/sql/parser) in string-protected text:

    - ``[OFFSET k ROWS] FETCH FIRST|NEXT [n] ROWS ONLY`` -> ``LIMIT n
      [OFFSET k]`` (count defaults to 1, as PG).
    - ``ORDER BY <keys> FETCH FIRST n ROWS WITH TIES`` -> ``QUALIFY
      RANK() OVER (ORDER BY <keys>) <= n ORDER BY <keys>`` — the
      standard equivalence (peers of the n-th row share its rank), then
      the existing QUALIFY pass finishes the lowering. Runs BEFORE
      ``_rewrite_qualify`` for exactly that reason.
    """
    while True:
        m = _FETCH_RE.search(body)
        if m is None:
            return body
        n = int(m.group(1) or 1)
        ties = m.group(2).upper().startswith("WITH")
        clause_start = m.start()
        offset = None
        off_m = re.search(
            r"\bOFFSET\s+(\d+)\s+(?:ROWS?\s+)?$", body[:clause_start],
            re.IGNORECASE,
        )
        if off_m is not None:
            offset = int(off_m.group(1))
            clause_start = off_m.start()

        # owning ORDER BY: scan backward at depth 0; identifiers and
        # sort modifiers (ASC/DESC/NULLS/...) pass through, any clause
        # keyword means this FETCH has no ORDER BY of its own
        order_at = None
        depth = 0
        for t in reversed(list(_QUAL_TOK.finditer(body, 0, clause_start))):
            tx = t.group(0)
            if tx == ")":
                depth += 1
            elif tx == "(":
                if depth == 0:
                    break
                depth -= 1
            elif depth == 0:
                kw = tx.upper()
                if kw == "ORDER":
                    order_at = t.start()
                    break
                if kw in _FETCH_STOP_KWS:
                    break

        if ties:
            if offset is not None:
                raise ValueError(
                    "FETCH ... WITH TIES combined with OFFSET is not "
                    "supported"
                )
            if order_at is None:
                raise ValueError("FETCH ... WITH TIES requires ORDER BY")
            km = re.match(
                r"ORDER\s+BY\s+", body[order_at:], re.IGNORECASE
            )
            keys = body[order_at + km.end():clause_start].strip()
            new = (
                f"QUALIFY RANK() OVER (ORDER BY {keys}) <= {n} "
                f"ORDER BY {keys} "
            )
            body = body[:order_at] + new + body[m.end():]
        else:
            new = f"LIMIT {n}"
            if offset is not None:
                new += f" OFFSET {offset}"
            body = body[:clause_start] + new + " " + body[m.end():]


_ORDERED_AGG_RE = re.compile(r"\b(string_agg|array_agg)\s*\(", re.IGNORECASE)


def _rewrite_ordered_agg(body: str) -> str:
    """Lower PG's inline ordered-aggregate syntax, which Spark's grammar
    rejects outright:

    - ``string_agg(x, sep ORDER BY keys)`` -> ``listagg(x, sep) WITHIN
      GROUP (ORDER BY keys)`` (Spark 4 parses the standard form).
    - ``array_agg(x ORDER BY x [DESC])`` -> ``sort_array(collect_list(x)
      [, false])``; with DISTINCT, ``collect_set``.
    - ``array_agg(v ORDER BY k1, ...)`` (keys != the expression) ->
      struct-sort: ``transform(sort_array(collect_list(struct(k1 AS
      __otx_k0, ..., v AS __otx_v))), s -> s.__otx_v)`` — mixed ASC/DESC
      keys raise (struct sort is all-ascending or all-descending).
    """
    while True:
        found = None
        for m in _ORDERED_AGG_RE.finditer(body):
            fn = m.group(1).lower()
            try:
                i = _scan_balanced(body, m.end() - 1)
            except ValueError:
                break  # unbalanced; leave for Spark's parser to report
            inner = body[m.end():i - 1]
            ob = None
            d = 0
            for t in re.finditer(r"[()]|\bORDER\b", inner, re.IGNORECASE):
                tx = t.group(0)
                if tx == "(":
                    d += 1
                elif tx == ")":
                    d -= 1
                elif d == 0:
                    ob = t.start()
                    break
            if ob is None:
                continue
            pre = inner[:ob].strip()
            km = re.match(
                r"ORDER\s+BY\s+(.*)$", inner[ob:], re.IGNORECASE | re.S
            )
            found = (m.start(), i, fn, pre, km.group(1).strip())
            break
        if found is None:
            return body
        start, end, fn, pre, keys = found
        if fn == "string_agg":
            new = f"listagg({pre}) WITHIN GROUP (ORDER BY {keys})"
        else:
            keyparts = [
                k.strip() for k in _split_top_level(keys)
            ]
            desc_flags = [
                bool(re.search(r"\bDESC\s*$", k, re.IGNORECASE))
                for k in keyparts
            ]
            stripped = [
                re.sub(r"\s+(ASC|DESC)\s*$", "", k, flags=re.IGNORECASE)
                .strip()
                for k in keyparts
            ]
            desc_arg = ", false" if desc_flags and all(desc_flags) else ""
            if any(desc_flags) and not all(desc_flags):
                raise ValueError(
                    "array_agg ORDER BY with mixed ASC/DESC keys is not "
                    "supported (struct sort is single-direction)"
                )
            dm = re.match(r"DISTINCT\s+(.*)$", pre, re.IGNORECASE | re.S)
            if dm is not None:
                expr = dm.group(1).strip()
                if len(stripped) != 1 or stripped[0] != expr:
                    raise ValueError(
                        "array_agg(DISTINCT x ORDER BY y) requires the "
                        "ORDER BY key to be the aggregated expression "
                        "(as PG)"
                    )
                new = f"sort_array(collect_set({expr}){desc_arg})"
            elif len(stripped) == 1 and stripped[0] == pre:
                new = f"sort_array(collect_list({pre}){desc_arg})"
            else:
                fields = ", ".join(
                    f"{k} AS __otx_k{n}" for n, k in enumerate(stripped)
                )
                new = (
                    f"transform(sort_array(collect_list(struct({fields}, "
                    f"{pre} AS __otx_v)){desc_arg}), s -> s.__otx_v)"
                )
        body = body[:start] + new + body[end:]


_INTERVAL_UNITS_US = {
    "us": 1, "microsecond": 1,
    "ms": 1000, "millisecond": 1000,
    "s": 1_000_000, "sec": 1_000_000, "second": 1_000_000,
    "min": 60_000_000, "minute": 60_000_000,
    "h": 3_600_000_000, "hr": 3_600_000_000, "hour": 3_600_000_000,
    "d": 86_400_000_000, "day": 86_400_000_000,
    "week": 604_800_000_000,
}


def _interval_us(text: str) -> int:
    """'15 minutes' / '1 hour 30 minutes' -> microseconds."""
    total = 0
    for num, unit in re.findall(r"(\d+)\s*([A-Za-z]+)", text):
        u = unit.lower()
        u = u[:-1] if u.endswith("s") and u[:-1] in _INTERVAL_UNITS_US else u
        if u not in _INTERVAL_UNITS_US:
            raise ValueError(f"unsupported interval unit {unit!r} in {text!r}")
        total += int(num) * _INTERVAL_UNITS_US[u]
    if total <= 0:
        raise ValueError(f"empty or zero interval {text!r}")
    return total


_DATE_BIN_RE = re.compile(r"\bdate_bin\s*\(", re.IGNORECASE)


def _rewrite_date_bin(body: str, lits: list[str]) -> str:
    """Lower PG 14's ``date_bin(stride, source, origin)`` — arbitrary-width
    time buckets on an arbitrary origin grid (TimescaleDB time_bucket;
    the reference's temporal bucketing family) — to pure integer
    microsecond arithmetic Spark codegens: ``origin + floor((src -
    origin) / width) * width`` with the floor spelled ``pmod`` so
    sources BEFORE the origin still bin onto the grid (integer DIV
    truncates toward zero and would shift them one bin late)."""
    while True:
        m = _DATE_BIN_RE.search(body)
        if m is None:
            return body
        i = _scan_balanced(body, m.end() - 1)
        args = _split_top_level(body[m.end():i - 1])
        if len(args) != 3:
            raise ValueError(
                "date_bin expects (stride, source, origin), got "
                f"{len(args)} arguments"
            )
        stride, src, origin = (a.strip() for a in args)
        sm = re.fullmatch(
            r"(?:INTERVAL\s+)?\x00(\d+)\x00(?:\s*::\s*interval)?",
            stride, re.IGNORECASE,
        )
        if sm is None:
            raise ValueError(
                "date_bin stride must be an interval literal"
            )
        width = _interval_us(_lit_text(lits[int(sm.group(1))]))
        s = f"unix_micros(CAST({src} AS TIMESTAMP))"
        o = f"unix_micros(CAST({origin} AS TIMESTAMP))"
        new = (
            f"timestamp_micros({o} + ({s} - {o}) "
            f"- pmod({s} - {o}, {width}))"
        )
        body = body[:m.start()] + new + body[i:]


_GEN_SERIES_RE = re.compile(r"\bgenerate_series\s*\(", re.IGNORECASE)
# words that can follow a FROM-position table function and are NOT aliases
_GS_NONALIAS = frozenset(
    """WHERE GROUP ORDER LIMIT OFFSET HAVING QUALIFY UNION INTERSECT
    EXCEPT ON JOIN CROSS INNER LEFT RIGHT FULL NATURAL USING AS FETCH
    WINDOW""".split()
)


def _rewrite_generate_series(body: str) -> str:
    """Lower PG's ``generate_series`` set-returning function:

    - table position (``FROM generate_series(a, b [, step]) [AS] t(i)``,
      including comma-FROM and JOIN operands) -> the derived table
      ``(SELECT explode(sequence(a, b[, step])) AS i) t`` — valid
      wherever a relation is;
    - select-list position -> ``explode(sequence(...))`` (Spark allows
      one generator per select, matching the common single-SRF use).

    ``sequence`` is inclusive on both ends, exactly like
    ``generate_series``. Alias defaults mirror PG: a bare call exposes a
    column literally named ``generate_series``.
    """
    while True:
        found = None
        for m in _GEN_SERIES_RE.finditer(body):
            i = _scan_balanced(body, m.end() - 1)
            args = body[m.end():i - 1].strip()
            # position: last non-space char/token before the call
            before = body[:m.start()].rstrip()
            table_pos = before.endswith(",") or bool(
                re.search(r"\b(FROM|JOIN)\s*$", before, re.IGNORECASE)
            )
            if not table_pos:
                new = f"explode(sequence({args}))"
                found = (m.start(), i, new)
                break
            am = re.match(
                r"\s*(?:AS\s+)?([A-Za-z_]\w*)\s*"
                r"(?:\(\s*([A-Za-z_]\w*)\s*\))?",
                body[i:],
            )
            name, col, alias_end = "generate_series", "generate_series", 0
            if am and am.group(1) and am.group(1).upper() not in _GS_NONALIAS:
                name = am.group(1)
                col = am.group(2) or "generate_series"
                alias_end = am.end()
            new = f"(SELECT explode(sequence({args})) AS {col}) {name}"
            found = (m.start(), i + alias_end, new)
            break
        if found is None:
            return body
        start, end, new = found
        body = body[:start] + new + body[end:]


_EXTRACT_PG_RE = re.compile(
    r"\bEXTRACT\s*\(\s*(EPOCH|ISODOW|DOW)\s+FROM\b"
    r"|\bdate_part\s*\(\s*\x00(\d+)\x00\s*,",
    re.IGNORECASE,
)


def _rewrite_extract_pg(body: str, lits: list[str]) -> str:
    """Lower the PG EXTRACT / ``date_part`` fields where Spark refuses or
    disagrees:

    - ``EPOCH`` — seconds since 1970 including the fractional part
      (PG returns numeric): ``unix_micros(CAST(x AS TIMESTAMP)) /
      1000000.0``. The µs count is < 2^53, so the double division is
      exact at whole seconds and order-pinned elsewhere — an oracle
      replaying the same two ops gets bit-identical values.
    - ``ISODOW`` — ISO day of week, Monday=1..Sunday=7:
      ``pmod(dayofweek(x) + 5, 7) + 1``.
    - ``DOW`` — PG numbers Sunday=0..Saturday=6, while Spark's DOW and
      ``dayofweek`` number Sunday=1..Saturday=7: ``(dayofweek(x) - 1)``.

    Spark's other fields (YEAR, DOY, WEEK, ...) match PG and pass
    through."""
    pos = 0
    while True:
        m = _EXTRACT_PG_RE.search(body, pos)
        if m is None:
            return body
        if m.group(1):
            field = m.group(1).upper()
        else:
            field = _lit_text(lits[int(m.group(2))]).strip().upper()
        if field not in ("EPOCH", "ISODOW", "DOW"):
            pos = m.end()
            continue
        end = _scan_balanced(body, body.index("(", m.start()))
        inner = body[m.end():end - 1].strip()
        if field == "EPOCH":
            new = f"(unix_micros(CAST(({inner}) AS TIMESTAMP)) / 1000000.0)"
        elif field == "ISODOW":
            new = f"(pmod(dayofweek(({inner})) + 5, 7) + 1)"
        else:
            new = f"(dayofweek(({inner})) - 1)"
        body = body[:m.start()] + new + body[end:]
        pos = m.start()


_TEXT_CAST_RE = re.compile(
    r"(::\s*)(?:text|varchar|character\s+varying)\b(?!\s*[(\[])",
    re.IGNORECASE,
)


def _rewrite_text_casts(body: str) -> str:
    """``x::text``, ``x::varchar`` and ``x::character varying`` without a
    length are PG's unbounded string type; Spark knows none of these
    spellings, so they become ``x::string``. ``::varchar(n)`` is a Spark
    type and passes through, as do array-type suffixes."""
    return _TEXT_CAST_RE.sub(r"\1string", body)


_OVERLAPS_RE = re.compile(r"\)\s*OVERLAPS\s*\(", re.IGNORECASE)


def _rewrite_overlaps(body: str) -> str:
    """Lower the SQL-standard ``(s1, e1) OVERLAPS (s2, e2)`` predicate
    (PG grammar a_expr OVERLAPS rule; Spark has no such operator) to its
    definition: each period is the half-open interval [least, greatest),
    EXCEPT that a zero-length period is the single instant, which still
    overlaps anything covering it — the full PG edge-case table:

        CASE WHEN L1 = G1 AND L2 = G2 THEN L1 = L2
             WHEN L1 = G1 THEN L1 >= L2 AND L1 < G2
             WHEN L2 = G2 THEN L2 >= L1 AND L2 < G1
             ELSE L1 < G2 AND L2 < G1 END

    Only row-literal operands ``( a , b ) OVERLAPS ( c , d )`` are
    rewritten (the only form PG's grammar accepts)."""
    while True:
        m = _OVERLAPS_RE.search(body)
        if m is None:
            return body
        # walk LEFT from the ')' at m.start() to its matching open paren
        depth, i = 0, m.start()
        while i >= 0:
            if body[i] == ")":
                depth += 1
            elif body[i] == "(":
                depth -= 1
                if depth == 0:
                    break
            i -= 1
        lhs_open = i
        rhs_open = body.index("(", m.end() - 1)
        rhs_end = _scan_balanced(body, rhs_open)
        lhs_parts = _split_top_level(body[lhs_open + 1:m.start()])
        rhs_parts = _split_top_level(body[rhs_open + 1:rhs_end - 1])
        if lhs_open < 0 or len(lhs_parts) != 2 or len(rhs_parts) != 2:
            raise ValueError(
                "OVERLAPS expects (start, end) OVERLAPS (start, end)"
            )
        s1, e1 = (p.strip() for p in lhs_parts)
        s2, e2 = (p.strip() for p in rhs_parts)
        l1, g1 = f"least({s1}, {e1})", f"greatest({s1}, {e1})"
        l2, g2 = f"least({s2}, {e2})", f"greatest({s2}, {e2})"
        new = (
            f"(CASE WHEN {l1} = {g1} AND {l2} = {g2} THEN {l1} = {l2} "
            f"WHEN {l1} = {g1} THEN {l1} >= {l2} AND {l1} < {g2} "
            f"WHEN {l2} = {g2} THEN {l2} >= {l1} AND {l2} < {g1} "
            f"ELSE {l1} < {g2} AND {l2} < {g1} END)"
        )
        body = body[:lhs_open] + new + body[rhs_end:]


_SELECT_INTO_HEAD_RE = re.compile(r"^\s*(WITH|SELECT)\b", re.IGNORECASE)
_INTO_RE = re.compile(
    r"\bINTO\s+(?:(?:TEMP|TEMPORARY|UNLOGGED)\s+)?(?:TABLE\s+)?([\w.]+)\s*",
    re.IGNORECASE,
)


def _rewrite_select_into(body: str) -> str:
    """PG's ``SELECT ... INTO tbl FROM ...`` (grammar into_clause) is
    CREATE TABLE AS with the target spliced mid-statement; lift it back
    out so the catalog's CTAS path owns it. Only top-level (depth-0)
    INTO inside a statement that STARTS with SELECT/WITH is touched —
    INSERT INTO / MERGE INTO statements never match the head guard, and
    PG itself rejects INTO in subqueries. TEMP/UNLOGGED degrade to a
    plain managed table (session-scoped anyway here)."""
    if not _SELECT_INTO_HEAD_RE.match(body):
        return body
    for m in _INTO_RE.finditer(body):
        depth = body.count("(", 0, m.start()) - body.count(")", 0, m.start())
        before = body[:m.start()].rstrip().upper()
        # WITH-headed statements can still be INSERT INTO underneath
        if depth == 0 and not before.endswith(("INSERT", "MERGE")):
            tbl = m.group(1)
            rest = body[:m.start()] + body[m.end():]
            return f"CREATE TABLE {tbl} AS {rest.strip()}"
    return body


_BETWEEN_SYM_RE = re.compile(r"\bBETWEEN\s+SYMMETRIC\s+", re.IGNORECASE)
_BSYM_BOUNDARY_RE = re.compile(
    r"[(),;]|\b(AND|OR|ORDER|GROUP|HAVING|WINDOW|LIMIT|UNION|EXCEPT|"
    r"INTERSECT|THEN|ELSE|END|AS|FROM|WHERE|JOIN|ON|QUALIFY)\b",
    re.IGNORECASE,
)


def _rewrite_between_symmetric(body: str) -> str:
    """PG's ``x BETWEEN SYMMETRIC a AND b`` (grammar a_expr BETWEEN
    SYMMETRIC rule): the bounds are unordered — PG swaps them when
    a > b. Spark has no SYMMETRIC; lower to
    ``BETWEEN least(a, b) AND greatest(a, b)``. Operand a runs to the
    first depth-0 AND; operand b to the next depth-0 boundary token
    (AND/OR/clause keyword/paren/comma). NOT BETWEEN SYMMETRIC works
    unchanged — the NOT stays outside the rewritten segment."""

    def scan_operand(text: str, stop_and: bool) -> int:
        depth = 0
        for m in _BSYM_BOUNDARY_RE.finditer(text):
            tok = m.group(0)
            if tok == "(":
                depth += 1
            elif tok == ")":
                if depth == 0:
                    return m.start()
                depth -= 1
            elif depth == 0:
                if not stop_and:
                    return m.start()  # any depth-0 boundary ends operand b
                if tok.upper() == "AND":
                    return m.start()
        return len(text)

    while True:
        m = _BETWEEN_SYM_RE.search(body)
        if m is None:
            return body
        rest = body[m.end():]
        a_end = scan_operand(rest, stop_and=True)
        a = rest[:a_end].strip()
        after_and = re.match(r"\s*AND\s*", rest[a_end:], re.IGNORECASE)
        if not a or after_and is None:
            raise ValueError("BETWEEN SYMMETRIC expects <a> AND <b>")
        b_start = a_end + after_and.end()
        b_end = b_start + scan_operand(rest[b_start:], stop_and=False)
        b = rest[b_start:b_end].strip()
        if not b:
            raise ValueError("BETWEEN SYMMETRIC expects <a> AND <b>")
        new = f"BETWEEN least({a}, {b}) AND greatest({a}, {b}) "
        body = body[:m.start()] + new + body[m.end() + b_end:].lstrip()


def _rewrite_order_using(body: str) -> str:
    """PG's ``ORDER BY x USING <`` / ``USING >`` (operator-class sort;
    grammar sortby rule) -> ASC / DESC. JOIN ... USING(...) never
    matches — there USING is followed by a paren, not an operator."""
    body = re.sub(r"\bUSING\s*<(?![<=>~])", "ASC", body, flags=re.IGNORECASE)
    body = re.sub(r"\bUSING\s*>(?![<=>~])", "DESC", body, flags=re.IGNORECASE)
    return body


_FILTER_OVER_RE = re.compile(r"\bFILTER\s*\(\s*WHERE\b", re.IGNORECASE)


def _rewrite_filter_over(body: str) -> str:
    """Lower ``agg(args) FILTER (WHERE p) OVER w`` — legal PG/DuckDB,
    rejected by Spark ("window aggregate function with filter predicate
    is not supported") — to ``agg(CASE WHEN p THEN args END) OVER w``
    (``COUNT(*)`` counts ``CASE WHEN p THEN 1 END``). Grouped-aggregate
    FILTER (no OVER) is left alone: Spark parses that natively."""
    while True:
        found = None
        for m in _FILTER_OVER_RE.finditer(body):
            try:
                i = _scan_balanced(body, body.index("(", m.start()))
            except ValueError:
                break  # unbalanced; leave for Spark's parser to report
            pred = body[m.end():i - 1].strip()
            if not re.match(r"\s*OVER\b", body[i:], re.IGNORECASE):
                continue  # grouped-agg FILTER: native
            j = m.start() - 1
            while j >= 0 and body[j].isspace():
                j -= 1
            if j < 0 or body[j] != ")":
                continue
            depth, k = 1, j - 1
            while k >= 0:
                if body[k] == ")":
                    depth += 1
                elif body[k] == "(":
                    depth -= 1
                    if depth == 0:
                        break
                k -= 1
            args = body[k + 1:j].strip()
            fm = re.search(r"([A-Za-z_][A-Za-z0-9_]*)\s*$", body[:k])
            if fm is None:
                continue
            found = (fm.start(1), i, fm.group(1), args, pred)
            break
        if found is None:
            return body
        start, end, fn, args, pred = found
        if args in ("*", ""):
            new = f"{fn}(CASE WHEN {pred} THEN 1 END)"
        else:
            dm = re.match(r"DISTINCT\s+(.*)$", args, re.IGNORECASE | re.S)
            inner = dm.group(1) if dm else args
            kw = "DISTINCT " if dm else ""
            new = f"{fn}({kw}CASE WHEN {pred} THEN {inner} END)"
        body = body[:start] + new + body[end:]


def _rewrite_clauses(body: str, lits: list[str]) -> str:
    """The clause-level lowerings, in order, over string-protected text.
    ``lits`` is the stash; passes that mint literals append to it. FETCH
    runs before QUALIFY because WITH TIES lowers through QUALIFY."""
    body = _rewrite_select_into(body)
    body = _rewrite_fetch(body)
    body = _rewrite_filter_over(body)
    body = _rewrite_ordered_agg(body)
    body = _rewrite_generate_series(body)
    body = _rewrite_date_bin(body, lits)
    body = _rewrite_extract_pg(body, lits)
    body = _rewrite_text_casts(body)
    body = _rewrite_overlaps(body)
    body = _rewrite_between_symmetric(body)
    body = _rewrite_order_using(body)
    body = _rewrite_qualify(body)
    return _rewrite_similar_to(body, lits)


def _json_path(keys: list[str]) -> str:
    out = "$"
    for k in keys:
        out += f"[{k}]" if k.lstrip("-").isdigit() else f".{k}"
    return out


_IDENT = r"[A-Za-z_][A-Za-z_0-9.]*"

# type names whose [N] suffix is an array TYPE declaration, not a subscript
_TYPE_KEYWORDS = frozenset(
    """bool boolean tinyint smallint int2 int integer int4 bigint int8 real
    float4 float float8 double text varchar char string uuid date timestamp
    timestamptz blob bytea decimal numeric""".split()
)

# keywords that can precede a unary minus — never the LHS of a jsonb delete
_SQL_KEYWORDS = frozenset(
    """SELECT WHERE AND OR NOT THEN ELSE WHEN CASE END BY ON AS FROM JOIN
    HAVING LIMIT OFFSET UNION ALL DISTINCT EXCEPT INTERSECT BETWEEN IN LIKE
    RLIKE ILIKE IS NULL TRUE FALSE SET VALUES RETURNING ORDER GROUP""".split()
)

# RHS literals shaped like numbers or PG interval strings are arithmetic
# (`o_orderdate - '3 days'`, `x - '42'`), never jsonb key deletes.
_NUM_OR_INTERVAL = re.compile(
    r"^\s*[+-]?\d+(?:\.\d+)?\s*$"  # numeric-string coercion
    r"|^\s*(?:[+-]?\d+(?:\.\d+)?\s*"
    r"(?:years?|yrs?|months?|mons?|weeks?|days?|hours?|hrs?|"
    r"minutes?|mins?|seconds?|secs?|milliseconds?|ms|microseconds?|us)\s*)+"
    r"(?:\d{1,3}:\d{2}(?::\d{2}(?:\.\d+)?)?)?\s*$"  # '1 day 01:00:00'
    r"|^\s*[+-]?\d{1,3}:\d{2}(?::\d{2}(?:\.\d+)?)?\s*$",  # '01:30:00'
    re.IGNORECASE,
)


def _delete_expr(col: str, keys: list[str], depth: int = 0) -> str:
    """JSONB delete lowered to a type-preserving map<string,variant>
    round-trip (reference jsonb_delete, `transform_select.cpp:641-736`):

      - ``col - 'k'``      -> map_filter drops the top-level key
      - ``col #- '{a,b}'`` -> transform_values rebuilds the nested object,
                              recursing per path step (arbitrary depth)

    Object keys only (array-index deletes are not lowered — the reference's
    dynamic documents are object-shaped). NULL/malformed JSON -> NULL, and a
    missing path returns the document unchanged, as in PG.
    """
    k, v = f"k{depth}", f"v{depth}"
    if len(keys) == 1:
        return (
            f"to_json(map_filter(from_json({col}, 'map<string,variant>'), "
            f"({k}, {v}) -> {k} != '{keys[0]}'))"
        )
    head, rest = keys[0], keys[1:]
    inner_src = f"get_json_object({col}, '{_json_path([head])}')"
    inner_del = _delete_expr(inner_src, rest, depth + 1)
    return (
        f"to_json(transform_values(from_json({col}, 'map<string,variant>'), "
        f"({k}, {v}) -> CASE WHEN {k} = '{head}' THEN parse_json({inner_del}) "
        f"ELSE {v} END))"
    )


# residual 1-based subscript attached to a paren group or bracket that the
# rewrite rules did not consume — reaching spark.sql would silently apply
# Spark's 0-based [] semantics (the off-by-one class this layer exists to
# close), so raise instead of passing through.
_RESIDUAL_SUB = re.compile(r"[\)\]]\s*\[\s*\d+\s*\]")


def _call_head_ident(body: str, close_at: int) -> str | None:
    """Identifier immediately preceding the '(' that matches the ')' at
    ``close_at``, or None for a bare parenthesized expression."""
    depth = 0
    for i in range(close_at, -1, -1):
        c = body[i]
        if c == ")":
            depth += 1
        elif c == "(":
            depth -= 1
            if depth == 0:
                m = re.search(rf"({_IDENT})\s*$", body[:i])
                return m.group(1) if m else None
    return None


def _guard_residual_subscripts(body: str) -> None:
    """Post-pass safety net: any digit subscript still attached to a paren
    group or bracket after the rewrite rules ran is either a parameterized
    array TYPE declaration (allowed — the catalog's DDL type mapper owns
    ``numeric(10,2)[3]``) or a construct this layer failed to lower. Raising
    beats letting Spark's 0-based ``[]`` silently shift every element."""
    for m in _RESIDUAL_SUB.finditer(body):
        if body[m.start()] == ")":
            head = _call_head_ident(body, m.start())
            if head and head.lower() in _TYPE_KEYWORDS:
                continue
        snippet = body[max(0, m.start() - 40) : m.end() + 10]
        raise ValueError(
            "unrewritten 1-based array subscript (would hit Spark's 0-based "
            f"[] and silently shift elements) near: {snippet!r}"
        )


# --- PG null-ordering defaults ----------------------------------------------
# PG sorts NULLS LAST for ASC and NULLS FIRST for DESC (gram.y sortby:
# SortByDir defaults, "nulls sort as if larger than any non-null");
# Spark's defaults are the OPPOSITE (NULLS FIRST for ASC, NULLS LAST for
# DESC). Invisible to order-insensitive consumers, wrong for
# `ORDER BY nullable_key LIMIT n` and for window frames over nullable
# keys. Every sort item without an explicit NULLS FIRST/LAST therefore
# gets PG's default appended. Applied ONCE, to the final Spark SQL text
# after the operator folds and clause passes have run, covering
# clause-level ORDER BY and window-spec ORDER BY alike; WITHIN GROUP
# (ORDER BY ...) is skipped — Spark's ordered-set aggregates reject NULLS
# specs there, and the aggregates ignore NULL inputs anyway.

_ORDER_BY_RE = re.compile(r"\bORDER\s+BY\b", re.IGNORECASE)
# keywords that terminate a sort-item list (clause level: LIMIT/OFFSET/
# FETCH/set-ops/...; window spec: frame keywords ROWS/RANGE/GROUPS)
_SORT_STOP = {
    "LIMIT", "OFFSET", "FETCH", "WINDOW", "UNION", "INTERSECT", "EXCEPT",
    "MINUS", "ROWS", "RANGE", "GROUPS", "QUALIFY", "HAVING",
    "DISTRIBUTE", "SORT", "CLUSTER",
}
_WORD_RE = re.compile(r"[A-Za-z_]\w*")


_TRAILING_NOISE = re.compile(r"(?:\s+|\x02\d+\x02)+$")


def _null_default_item(item: str) -> str:
    """Append PG's default NULLS placement to one sort item (no-op when
    an explicit NULLS FIRST/LAST is already present). Trailing stashed
    comments (\\x02 tokens) move into the tail so the spec lands BEFORE
    them — appending after a line comment would swallow it."""
    m = _TRAILING_NOISE.search(item)
    core = item[: m.start()] if m else item
    if not core:
        return item
    tail = item[len(core):]
    if re.search(r"\bNULLS\s+(?:FIRST|LAST)$", core, re.IGNORECASE):
        return item
    if re.search(r"\bDESC$", core, re.IGNORECASE):
        return core + " NULLS FIRST" + tail
    return core + " NULLS LAST" + tail


# quoted tokens the shared single-quote protector does not cover: a
# backtick identifier or a double-quoted token may contain a stop word
# ("ORDER BY `rows`") and must be opaque to the item scanner
_QUOTED_TOK = re.compile(r'`[^`]*`|"(?:[^"]|"")*"')
# comments must be opaque to the item scanner too: a stop word inside a
# comment must not truncate the clause, and the NULLS spec must never be
# appended INSIDE a trailing comment (self-review r10). Line comments
# exclude their newline so the terminator stays a real separator.
_COMMENT_TOK = re.compile(r"--[^\n]*|/\*.*?\*/", re.DOTALL)


def apply_pg_null_ordering(sql: str) -> str:
    """Make every ORDER BY follow PG's null-placement defaults. Operates
    on finished Spark SQL; idempotent (explicit specs are preserved)."""
    body, lits = _protect_strings(sql)
    quoted: list[str] = []

    def _stash(m: re.Match) -> str:
        quoted.append(m.group(0))
        return f"\x01{len(quoted) - 1}\x01"

    comments: list[str] = []

    def _stash_comment(m: re.Match) -> str:
        comments.append(m.group(0))
        return f"\x02{len(comments) - 1}\x02"

    body = _QUOTED_TOK.sub(_stash, body)
    body = _COMMENT_TOK.sub(_stash_comment, body)
    # rightmost-first: edits never move the start of a match to their
    # left, and nested clauses (subquery in a sort key) are finished —
    # inside parens, depth > 0 — before their enclosing clause is scanned
    matches = list(_ORDER_BY_RE.finditer(body))
    for m in reversed(matches):
        prefix = body[: m.start()].rstrip()
        if re.search(r"\bGROUP\s*\($", prefix, re.IGNORECASE):
            continue  # WITHIN GROUP (ORDER BY ...)
        i, n, depth = m.end(), len(body), 0
        item_start = i
        pieces: list[tuple[int, int]] = []
        while i < n:
            ch = body[i]
            if ch == "(":
                depth += 1
            elif ch == ")":
                if depth == 0:
                    break
                depth -= 1
            elif depth == 0:
                if ch == ",":
                    pieces.append((item_start, i))
                    item_start = i + 1
                elif ch == ";":
                    break
                elif ch.isalpha() or ch == "_":
                    w = _WORD_RE.match(body, i)
                    # a stop word terminates the clause only AFTER at
                    # least one sort item: as the first token of an item
                    # it can only be a column literally named rows/limit/
                    # sort/..., so it is consumed as the sort key
                    if (
                        w.group(0).upper() in _SORT_STOP
                        and body[item_start:i].strip()
                    ):
                        break
                    i = w.end()
                    continue
            i += 1
        pieces.append((item_start, i))
        new_items = [_null_default_item(body[a:b]) for a, b in pieces]
        body = body[: m.end()] + ",".join(new_items) + body[i:]
    body = re.sub(
        "\x02(\\d+)\x02", lambda m: comments[int(m.group(1))], body
    )
    body = re.sub("\x01(\\d+)\x01", lambda m: quoted[int(m.group(1))], body)
    return _restore_strings(body, lits)


def rewrite(sql: str) -> str:
    """Rewrite PG-isms into Spark SQL. Idempotent on plain Spark SQL.

    Operator folds run in ``dialect_ast`` (a tokenizer and operand parser,
    the analogue of the reference's `components/sql/parser/gram.y`), then
    the clause-level passes of this module, then PG's null-ordering
    defaults. Raises ``ValueError`` on input it cannot lower safely, e.g.
    unbalanced parentheses inside a construct it rewrites."""
    from otterbrix_spark.dialect_ast import rewrite_ast

    return apply_pg_null_ordering(rewrite_ast(sql))


