"""Test-only regex oracle for the PG-dialect operator folds.

The engine lowers PG operators once, in ``otterbrix_spark.dialect_ast``:
a tokenizer plus a forward operand parser. This module is a second,
independent implementation of the same folds. It works on
string-protected text with regexes and a backward balanced-operand
scanner. ``tests/test_dialect_ast.py`` compares the two byte for byte
over a directed corpus and a hypothesis fuzz, so a fold that one side
gets wrong shows up as a disagreement. The package never imports this
module.

The clause-level lowerings (``dialect._rewrite_clauses``) and the PG
null-ordering defaults are shared with the engine, so the comparison
exercises the operator folds. Run order matches the engine's historical
regex path: clause passes first, then the operator folds.
"""

from __future__ import annotations

import re

from otterbrix_spark.dialect import (
    _IDENT,
    _NUM_OR_INTERVAL,
    _SQL_KEYWORDS,
    _TYPE_KEYWORDS,
    _delete_expr,
    _guard_residual_subscripts,
    _json_path,
    _lit_text,
    _protect_strings,
    _restore_strings,
    _rewrite_clauses,
    apply_pg_null_ordering,
)

_GROUP_HEAD = re.compile(rf"(?:\b({_IDENT})\s*)?\(")
_SUBSCRIPT_AFTER = re.compile(r"\s*\[\s*(\d+)\s*\]")
# PG array slice `[a:b]` (1-based, inclusive both ends) — lowered to
# Spark's slice(arr, a, b-a+1). Only literal positive bounds; PG's
# open-ended forms ([:b], [a:]) are not lowered and fail loudly in
# Spark's parser rather than silently shifting.
_SLICE_AFTER = re.compile(r"\s*\[\s*([1-9]\d*)\s*:\s*([1-9]\d*)\s*\]")


def _scan_balanced(body: str, open_at: int) -> int:
    """Index just past the paren group whose '(' is at ``open_at``; -1 if
    unbalanced. String literals are already stashed, so no quote handling."""
    depth = 0
    for i in range(open_at, len(body)):
        c = body[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i + 1
    return -1


def _rewrite_group_subscripts(body: str) -> str:
    """One left-to-right pass wrapping ``head(...)[N]`` / ``(...)[N]`` in
    ``element_at`` (PG 1-based). Balanced-paren scanning handles nested call
    arguments that a single-level regex cannot. Call heads that are type
    keywords (``numeric(10,2)[3]`` in DDL) are array TYPE declarations, not
    subscripts, and pass through for the catalog's type mapper. The caller
    loops to fixpoint, so groups wrapped this pass get their interiors
    re-scanned next pass."""
    out: list[str] = []
    i = 0
    while True:
        m = _GROUP_HEAD.search(body, i)
        if not m:
            out.append(body[i:])
            break
        open_at = m.end() - 1
        end = _scan_balanced(body, open_at)
        if end < 0:  # unbalanced tail: nothing rewritable remains
            out.append(body[i:])
            break
        ident = m.group(1)
        wrap_start = m.start()
        if ident and ident.upper() in _SQL_KEYWORDS:
            # `SELECT (a || b)[1]`: the keyword is not a call head — the
            # paren group alone is the subscripted operand
            ident, wrap_start = None, open_at
        sub = _SUBSCRIPT_AFTER.match(body, end)
        sl = _SLICE_AFTER.match(body, end)
        if sub and not (ident and ident.lower() in _TYPE_KEYWORDS):
            out.append(body[i:wrap_start])
            out.append(f"element_at({body[wrap_start:end]}, {sub.group(1)})")
            i = sub.end()
        elif sl and not (ident and ident.lower() in _TYPE_KEYWORDS):
            a, b = int(sl.group(1)), int(sl.group(2))
            out.append(body[i:wrap_start])
            out.append(
                f"slice({body[wrap_start:end]}, {a}, {max(b - a + 1, 0)})"
            )
            i = sl.end()
        else:
            # descend INTO the group so nested subscripts are still seen
            out.append(body[i : open_at + 1])
            i = open_at + 1
    return "".join(out)


def _left_operand_start(body: str, end: int) -> int | None:
    """Start index of the full operand ending just before ``end``:
    a stashed literal, an identifier, or a balanced paren group with an
    optional call-head identifier — the backward twin of the subscript
    scanner, used to give every PG operator rule nested-call LHS support
    the single-level ``_OPERAND`` regex lacks."""
    i = end
    while i > 0 and body[i - 1] in " \t\n":
        i -= 1
    if i == 0:
        return None
    if body[i - 1] == ")":
        depth, j = 0, i - 1
        while j >= 0:
            if body[j] == ")":
                depth += 1
            elif body[j] == "(":
                depth -= 1
                if depth == 0:
                    break
            j -= 1
        if j < 0 or depth != 0:
            return None
        m = re.search(rf"({_IDENT})\s*$", body[:j])
        if m and m.group(1).upper() not in _SQL_KEYWORDS:
            return m.start(1)
        return j
    m = re.search("\x00\\d+\x00$", body[:i])
    if m:
        return m.start()
    m = re.search(rf"{_IDENT}$", body[:i])
    if m:
        return m.start()
    return None


def _extend_lhs_over_casts(body: str, s: int) -> int:
    """PG's ``::`` binds tighter than the jsonb/path/regex operators, so an
    operand that is the TYPE of a cast must pull the cast's own LHS into the
    operand: ``x::string ->> 'k'`` reads as ``(x::string) ->> 'k'``. Without
    this the arrow rules wrapped only the type name
    (``x::get_json_object(string, ...)``) — matches the AST path, which
    folds the whole cast before applying the operator rules."""
    while True:
        k = s
        while k > 0 and body[k - 1] in " \t\n":
            k -= 1
        if k >= 2 and body[k - 1] == ":" and body[k - 2] == ":":
            prev = _left_operand_start(body, k - 2)
            if prev is None or prev >= k - 2:
                return s
            s = prev
        else:
            return s


def _apply_binop_scanned(
    body: str, op_re: re.Pattern, make, lhs_guard=None, extend_casts=False
) -> str:
    """Rewrite residual ``<operand> OP <rhs>`` occurrences whose LHS needed
    balanced-paren scanning. ``make(lhs, match)`` returns the replacement
    (or None to leave this occurrence). ``lhs_guard(body, start)`` may veto
    an occurrence by its left context; ``extend_casts`` widens the LHS over
    ``::`` cast chains (arrow/path/regex rules — NOT the jsonb delete,
    where a cast tail means arithmetic). Restarts after each rewrite so
    chains collapse left-to-right."""
    while True:
        for m in op_re.finditer(body):
            s = _left_operand_start(body, m.start())
            if s is None:
                continue
            if extend_casts:
                s = _extend_lhs_over_casts(body, s)
            if lhs_guard is not None and lhs_guard(body, s):
                continue
            repl = make(body[s : m.start()].rstrip(), m)
            if repl is None:
                continue
            body = body[:s] + repl + body[m.end() :]
            break
        else:
            return body


def rewrite_regex(sql: str) -> str:
    """The regex twin of ``dialect.rewrite``: same output, other method."""
    body, lits = _protect_strings(sql)
    body = _rewrite_clauses(body, lits)

    def lit_at(tok: str) -> str | None:
        m = re.fullmatch("\x00(\\d+)\x00", tok)
        return _lit_text(lits[int(m.group(1))]) if m else None

    # Every binary PG operator below rewrites through the balanced-operand
    # scanner (_apply_binop_scanned), NOT a single-level-paren regex: the
    # scanner handles nested-call LHS, and — because it always rewrites the
    # LEFTMOST occurrence first — chains like a -> 'x' ->> 'y' collapse
    # with PG's left associativity. (A regex pass that skips a complex LHS
    # would match the INNER pair of a chain first and mis-associate.)

    # --- #- : path delete (BEFORE #>/#>> so '#-' is never half-matched) -----
    def scanned_path_delete(lhs: str, m: re.Match) -> str | None:
        text = lit_at(m.group(1))
        if text is None or lhs.upper() in _SQL_KEYWORDS:
            return None
        keys = [k.strip() for k in text.strip("{}").split(",") if k.strip()]
        return _delete_expr(lhs, keys) if keys else lhs

    body = _apply_binop_scanned(
        body, re.compile("#-\\s*(\x00\\d+\x00)"), scanned_path_delete,
        extend_casts=True,
    )

    # --- #>> / #> : path navigation with '{a,b}' literals -------------------
    def scanned_path(lhs: str, m: re.Match) -> str | None:
        text = lit_at(m.group(1))
        if text is None or lhs.upper() in _SQL_KEYWORDS:
            return None
        keys = [k.strip() for k in text.strip("{}").split(",") if k.strip()]
        return f"get_json_object({lhs}, '{_json_path(keys)}')"

    body = _apply_binop_scanned(
        body, re.compile("#>>?\\s*(\x00\\d+\x00)"), scanned_path,
        extend_casts=True,
    )

    # --- ->> / -> : single-step navigation (chains collapse left-to-right
    # because the scanner always rewrites the leftmost occurrence first) ----
    def scanned_arrow(lhs: str, m: re.Match) -> str | None:
        text = lit_at(m.group(1))
        if text is None or lhs.upper() in _SQL_KEYWORDS:
            return None
        return f"get_json_object({lhs}, '{_json_path([text])}')"

    body = _apply_binop_scanned(
        body, re.compile("->>?\\s*(\x00\\d+\x00)"), scanned_arrow,
        extend_casts=True,
    )

    # --- @> / <@ : jsonb containment (literal pattern side) ----------------
    # PG containment with the pattern as a LITERAL expands at rewrite time
    # into a conjunction of get_json_object comparisons (functions/jsonb.
    # containment_sql documents the supported subset). `a @> '{..}'` takes
    # the scanned LHS operand; `'{..}' <@ b` is the mirrored form with the
    # literal on the left and a simple identifier/call RHS. Non-literal
    # patterns stay untouched (and fail downstream loudly) — PG evaluates
    # dynamic containment row-wise, which this text-level layer cannot.
    def scanned_contains(lhs: str, m: re.Match) -> str | None:
        text = lit_at(m.group(1))
        if text is None or lhs.upper() in _SQL_KEYWORDS:
            return None
        from otterbrix_spark.functions.jsonb import containment_sql

        try:
            return containment_sql(lhs, text)
        except ValueError:
            return None

    body = _apply_binop_scanned(
        body, re.compile("@>\\s*(\x00\\d+\x00)"), scanned_contains,
        extend_casts=True,
    )

    def _contained_sub(m: re.Match) -> str:
        text = lit_at(m.group(1))
        if text is None:
            return m.group(0)
        from otterbrix_spark.functions.jsonb import containment_sql

        try:
            return containment_sql(m.group(2), text)
        except ValueError:
            return m.group(0)

    body = re.sub(
        "(\x00\\d+\x00)\\s*<@\\s*([A-Za-z_][\\w.]*(?:\\((?:[^()]|\\([^()]*\\))*\\))?)",
        _contained_sub,
        body,
    )

    # --- ? / ?| / ?& : jsonb key existence ---------------------------------
    # `a ? 'k'` (single key), `a ?| ARRAY['k1','k2']` (any), `a ?& ...`
    # (all). $1-style parameters are the engine's placeholder syntax, so
    # `?` is unambiguous here. ?|/?& run FIRST so `?` never half-matches.
    def _keys_pred(joiner: str):
        def make(lhs: str, m: re.Match) -> str | None:
            if lhs.upper() in _SQL_KEYWORDS:
                return None
            from otterbrix_spark.functions.jsonb import key_exists_sql

            keys = [lit_at(t) for t in re.findall("\x00\\d+\x00", m.group(1))]
            if not keys or any(k is None for k in keys):
                return None
            return (
                "(" + joiner.join(key_exists_sql(lhs, k) for k in keys) + ")"
            )

        return make

    _ARR_LIT = "ARRAY\\s*\\[\\s*(\x00\\d+\x00(?:\\s*,\\s*\x00\\d+\x00)*)\\s*\\]"
    body = _apply_binop_scanned(
        body,
        re.compile("\\?\\|\\s*" + _ARR_LIT, re.IGNORECASE),
        _keys_pred(" OR "),
        extend_casts=True,
    )
    body = _apply_binop_scanned(
        body,
        re.compile("\\?&\\s*" + _ARR_LIT, re.IGNORECASE),
        _keys_pred(" AND "),
        extend_casts=True,
    )

    def scanned_key_exists(lhs: str, m: re.Match) -> str | None:
        text = lit_at(m.group(1))
        if text is None or lhs.upper() in _SQL_KEYWORDS:
            return None
        from otterbrix_spark.functions.jsonb import key_exists_sql

        return key_exists_sql(lhs, text)

    body = _apply_binop_scanned(
        body, re.compile("\\?\\s*(\x00\\d+\x00)"), scanned_key_exists,
        extend_casts=True,
    )

    # --- ::? variant-select -> try_cast -------------------------------------
    def scanned_variant(lhs: str, m: re.Match) -> str | None:
        if lhs.upper() in _SQL_KEYWORDS:
            return None
        return f"try_cast({lhs} AS {m.group(1)})"

    body = _apply_binop_scanned(
        body, re.compile(r"::\?\s*([A-Za-z_0-9()]+)"), scanned_variant
    )

    # --- `- 'key'` : top-level jsonb delete ---------------------------------
    # Only fires when the RHS is a string literal (PG's jsonb - text) AND the
    # LHS is a real operand, not a SQL keyword (`SELECT - 'x'` is a unary
    # minus on a literal, not a delete). Runs AFTER the arrow rules so
    # `->`/`->>` are already consumed — which means deletes CHAIN correctly
    # after other jsonb rewrites, PG's left associativity.
    # PG only applies `-` as delete when the LHS is typed jsonb; at the text
    # level we approximate: the LHS must be an identifier / call / paren
    # group (never a bare string literal — `text - text` is an error in PG,
    # and never the type of a `::type` cast: `x::bigint - '1'` is
    # arithmetic), and the RHS literal must not be interval/number-shaped
    # (`o_orderdate - '3 days'`) nor carry a `::` cast. Routed through the
    # balanced-operand scanner like every other rule — the old single-level
    # `_OPERAND` regex swallowed a keyword before a parenthesized LHS
    # (`SELECT (doc) - 'k'` matched "SELECT (doc)" as a call head).
    def scanned_key_delete(lhs: str, m: re.Match) -> str | None:
        text = lit_at(m.group(1))
        if text is None or lhs.upper() in _SQL_KEYWORDS:
            return None
        if lit_at(lhs) is not None:  # string-literal LHS: plain SQL
            return None
        if _NUM_OR_INTERVAL.match(text):
            return None
        return _delete_expr(lhs, [text])

    def key_delete_guard(body_: str, s: int) -> bool:
        # operand preceded by ':' is the type of a `::` cast, not a document
        return s > 0 and body_[s - 1] == ":"

    body = _apply_binop_scanned(
        body,
        re.compile("-\\s*(\x00\\d+\x00)(?!\\s*::)"),
        scanned_key_delete,
        lhs_guard=key_delete_guard,
    )

    # --- (composite).* field expansion --------------------------------------
    # PG expands a composite value with `(expr).*`; Spark's star expansion
    # is `expr.*` without the parens (reference composite expansion,
    # test_correctness_bugs.cpp:216 `SELECT (s.p).*`). Only a plain
    # (possibly dotted) identifier inside the parens qualifies — a general
    # expression star-expansion needs the analyzer and passes through.
    # `f(x).*` / `f (x).*` is a CALL's star expansion, not a composite —
    # the nearest non-space char before '(' must not be an identifier char
    def fix_composite_star(m: re.Match) -> str:
        j = m.start() - 1
        while j >= 0 and m.string[j] in " \t\n":
            j -= 1
        if j >= 0 and (m.string[j].isalnum() or m.string[j] in "_."):
            # identifier directly before '(': a keyword (SELECT (x).*) is
            # still a composite context; any other identifier is a call
            k = j
            while k >= 0 and (m.string[k].isalnum() or m.string[k] in "_."):
                k -= 1
            if m.string[k + 1 : j + 1].upper() not in _SQL_KEYWORDS:
                return m.group(0)
        return m.group(1) + ".*"

    body = re.sub(
        rf"\(\s*({_IDENT})\s*\)\s*\.\s*\*", fix_composite_star, body
    )

    # --- ROW(...) composite literals (PG row constructor) -------------------
    # -> struct(...): Spark's positional struct constructor; INSERT-side
    # schema coercion casts it onto the declared struct<...> column type
    # (reference composite types, test_collection_sql.cpp:710 INSERT ROW).
    body = re.sub(r"\bROW\s*\(", "struct(", body, flags=re.IGNORECASE)

    # --- PG array syntax ----------------------------------------------------
    # ARRAY[a, b, c] -> array(a, b, c); ident[N] (integer literal subscript)
    # -> element_at(ident, N), preserving PG's 1-based indexing (Spark's
    # native `[]` subscript is 0-based; element_at is 1-based like PG).
    # A subscript attached directly to an ARRAY literal or a simple call —
    # ARRAY[..][2], f(x)[2] — must ALSO go through element_at: leaving the
    # bare `[2]` hands it to Spark's 0-based subscript, an off-by-one that
    # parses fine and silently shifts every element (caught by
    # tests/test_dialect_nested.py).
    body = re.sub(
        r"\bARRAY\s*\[([^\[\]]*)\]\s*\[\s*(\d+)\s*\]",
        r"element_at(array(\1), \2)",
        body,
        flags=re.IGNORECASE,
    )
    body = re.sub(
        r"\bARRAY\s*\[([^\[\]]*)\]", r"array(\1)", body, flags=re.IGNORECASE
    )

    def fix_subscript(m: re.Match) -> str:
        # `int[3]` in a typed CREATE TABLE is an array TYPE, not a subscript
        if m.group(1).lower() in _TYPE_KEYWORDS:
            return m.group(0)
        return f"element_at({m.group(1)}, {m.group(2)})"

    # Fixpoint: the group scanner wraps `f(..)[N]` / `(expr)[N]` (balanced
    # parens, so nested calls like string_to_array(lower(x), ',')[2] are
    # caught), the ident rule wraps bare `col[N]`; chains like col[1][2]
    # converge because each rewrite consumes one digit-subscript and emits
    # none. Parameterized array TYPES (numeric(10,2)[3]) are skipped here
    # and vetted by _guard_residual_subscripts below.
    def fix_slice(m: re.Match) -> str:
        # PG slice ident[a:b] -> slice(ident, a, b-a+1); 1-based inclusive
        if m.group(1).lower() in _TYPE_KEYWORDS:
            return m.group(0)
        a, b = int(m.group(2)), int(m.group(3))
        return f"slice({m.group(1)}, {a}, {max(b - a + 1, 0)})"

    prev = None
    while prev != body:
        prev = body
        body = _rewrite_group_subscripts(body)
        body = re.sub(rf"\b({_IDENT})\s*\[\s*(\d+)\s*\]", fix_subscript, body)
        body = re.sub(
            rf"\b({_IDENT})\s*\[\s*([1-9]\d*)\s*:\s*([1-9]\d*)\s*\]",
            fix_slice, body,
        )
    _guard_residual_subscripts(body)

    # --- regex operators: `~` / `!~` / `~*` / `!~*` -------------------------
    # case-insensitive variants prepend (?i) to the pattern literal;
    # negated variants wrap in NOT (...). Order matters: longest first.
    def ci_pattern(tok: str) -> str:
        text = lit_at(tok)
        stashed = "'(?i)" + text.replace("'", "''") + "'"
        lits.append(stashed)
        return f"\x00{len(lits) - 1}\x00"

    # regex-match operators through the operand scanner; longest first
    def scanned_regex(template):
        def make(lhs: str, m: re.Match) -> str | None:
            if lhs.upper() in _SQL_KEYWORDS:
                return None
            return template(lhs, m.group(1))

        return make

    # PG LIKE-operator spellings (pg_dump output: ~~ = LIKE, !~~ = NOT
    # LIKE, ~~* = ILIKE, !~~* = NOT ILIKE) — longest first so the plain
    # regex operators below never half-match a double tilde
    body = _apply_binop_scanned(
        body, re.compile("!~~\\*\\s*(\x00\\d+\x00)"),
        scanned_regex(lambda l, t: f"{l} NOT ILIKE {t}"), extend_casts=True,
    )
    body = _apply_binop_scanned(
        body, re.compile("~~\\*\\s*(\x00\\d+\x00)"),
        scanned_regex(lambda l, t: f"{l} ILIKE {t}"), extend_casts=True,
    )
    body = _apply_binop_scanned(
        body, re.compile("!~~(?!\\*)\\s*(\x00\\d+\x00)"),
        scanned_regex(lambda l, t: f"{l} NOT LIKE {t}"), extend_casts=True,
    )
    body = _apply_binop_scanned(
        body, re.compile("(?<![!~])~~(?![~*])\\s*(\x00\\d+\x00)"),
        scanned_regex(lambda l, t: f"{l} LIKE {t}"), extend_casts=True,
    )

    body = _apply_binop_scanned(
        body, re.compile("!~\\*\\s*(\x00\\d+\x00)"),
        scanned_regex(lambda l, t: f"NOT ({l} RLIKE {ci_pattern(t)})"), extend_casts=True,
    )
    body = _apply_binop_scanned(
        body, re.compile("~\\*\\s*(\x00\\d+\x00)"),
        scanned_regex(lambda l, t: f"{l} RLIKE {ci_pattern(t)}"), extend_casts=True,
    )
    body = _apply_binop_scanned(
        body, re.compile("!~\\s*(\x00\\d+\x00)"),
        scanned_regex(lambda l, t: f"NOT ({l} RLIKE {t})"), extend_casts=True,
    )
    body = _apply_binop_scanned(
        body, re.compile("(?<!!)~\\s*(\x00\\d+\x00)"),
        scanned_regex(lambda l, t: f"{l} RLIKE {t}"), extend_casts=True,
    )

    return apply_pg_null_ordering(_restore_strings(body, lits))
