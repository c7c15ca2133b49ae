"""Tokenizer/AST-based PG-dialect rewriter — the operator-fold half of
``dialect.rewrite`` (the one runtime path; sqlglot is not available in
this environment, so this is a self-contained tokenizer + operand folder).

Built on a real SQL lexer:

  - string literals, double-quoted identifiers, line and block comments are
    LEXED, not regex-stashed — operators inside any of them can never fire;
  - operands are parsed structurally (identifier / call with balanced
    argument list / parenthesized group / ARRAY[..] / ROW(..) / literal),
    so arbitrarily nested calls work as operator LHS;
  - PG operators fold LEFT-ASSOCIATIVELY over the parsed operand, exactly
    PG's associativity for ``a -> 'x' ->> 'y'`` chains;
  - everything that is not a PG construct is re-emitted byte-identical
    (tokens carry their leading whitespace/comments), so plain Spark SQL
    passes through untouched.

The same operand parser lowers the catalog's ``expr::domain`` casts
(:func:`rewrite_casts`) with a cast-only fold. Each operator fold has one
case in the directed corpus of ``tests/test_dialect_ast.py``, which
compares this module against an independent, test-only regex oracle.

Reference anchor: the reference's real parser/transformer pipeline
(`components/sql/parser/gram.y`, `components/sql/transformer/impl/
transform_select.cpp:641-736`) — this module is the analogous
parse-then-lower seam for the Spark build.
"""

from __future__ import annotations

import re

from otterbrix_spark.dialect import (
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
)

# ---------------------------------------------------------------------------
# lexer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<lead>(?:\s+|--[^\n]*\n?|/\*(?:[^*]|\*(?!/))*\*/)*)
    (?P<tok>
        '(?:[^']|'')*'                                   # string literal
      | "(?:[^"]|"")*"                                   # quoted identifier
      | \d+(?:\.\d+)?(?:[eE][+-]?\d+)?                   # number
      | [A-Za-z_][A-Za-z0-9_]*
        (?:\.[A-Za-z_][A-Za-z0-9_]*)*                    # (dotted) identifier
      | !~~\*|~~\*|!~~|~~                               # PG LIKE-op spellings
      | ->>|\#>>|!~\*|::\?|->|\#>|\#-|::|!~|~\*|@>|<@|\?\||\?&
      | \|\||<=|>=|<>|!=
      | .                                                # any single char
    )
    """,
    re.VERBOSE | re.DOTALL,
)

STRING, QIDENT, NUMBER, IDENT, OP = "str", "qid", "num", "id", "op"


class _Tok:
    __slots__ = ("kind", "text", "lead")

    def __init__(self, kind: str, text: str, lead: str):
        self.kind, self.text, self.lead = kind, text, lead

    def __repr__(self):  # pragma: no cover - debug aid
        return f"_Tok({self.kind}, {self.text!r})"


def _tokenize(sql: str) -> tuple[list[_Tok], str]:
    """Token list + trailing whitespace/comment text after the last token."""
    toks: list[_Tok] = []
    pos = 0
    while pos < len(sql):
        m = _TOKEN_RE.match(sql, pos)
        if not m or m.end() == pos:
            # lone whitespace/comment tail (the 'tok' branch found nothing)
            break
        lead, tok = m.group("lead"), m.group("tok")
        if tok.startswith("'"):
            kind = STRING
        elif tok.startswith('"'):
            kind = QIDENT
        elif tok[0].isdigit():
            kind = NUMBER
        elif tok[0].isalpha() or tok[0] == "_":
            kind = IDENT
        else:
            kind = OP
        toks.append(_Tok(kind, tok, lead))
        pos = m.end()
    return toks, sql[pos:]


# ---------------------------------------------------------------------------
# operand parsing
# ---------------------------------------------------------------------------

# operand kinds the fold rules discriminate on
_K_IDENT, _K_CALL, _K_GROUP, _K_LIT, _K_NUM, _K_REWRITTEN = (
    "ident", "call", "group", "lit", "num", "rewritten",
)


def _match_close(
    toks: list[_Tok], i: int, open_c: str, close_c: str, end: int | None = None
) -> int:
    """Index of the token closing the group opened at ``i``; -1 if none."""
    depth = 0
    for j in range(i, len(toks) if end is None else end):
        t = toks[j].text
        if t == open_c:
            depth += 1
        elif t == close_c:
            depth -= 1
            if depth == 0:
                return j
    return -1


def _emit_verbatim(toks: list[_Tok], start: int, end: int) -> str:
    """Source text of tokens[start:end] with each token's own lead, except
    the first token's lead (owned by the caller)."""
    parts = []
    for k in range(start, end):
        if k > start:
            parts.append(toks[k].lead)
        parts.append(toks[k].text)
    return "".join(parts)


def _parse_operand(toks: list[_Tok], i: int, end: int, fold=None):
    """Parse one operand starting at ``i`` (bounded by ``end``). Returns
    ``(text, next_index, kind, head_ident)`` or ``None`` when tokens[i]
    cannot start an operand (keywords, operators, unbalanced groups).
    Nested groups are rewritten with ``fold`` (default: the PG folds)."""
    t = toks[i]
    if t.kind == IDENT:
        up = t.text.upper()
        if up in _SQL_KEYWORDS:
            # NULL/TRUE/FALSE are operands to a cast-only fold; no PG
            # operator takes a keyword LHS
            if fold is None or up not in ("NULL", "TRUE", "FALSE"):
                return None
            return t.text, i + 1, _K_LIT, None
        nxt = toks[i + 1] if i + 1 < end else None
        if up == "ARRAY" and nxt is not None and nxt.text == "[":
            close = _match_close(toks, i + 1, "[", "]", end)
            if close < 0:
                return None
            inner = _transform(toks, i + 2, close, fold)
            # head "array[" (not a possible identifier) marks the BRACKET
            # constructor: the one operand form the regex oracle leaves
            # verbatim before `- 'lit'` (its scanner cannot cross ']'),
            # while array()/struct()/ROW() calls fold as deletes there
            return f"array({inner})", close + 1, _K_CALL, "array["
        if nxt is not None and nxt.text == "(":
            close = _match_close(toks, i + 1, "(", ")", end)
            if close < 0:
                return None
            inner = _transform(toks, i + 2, close, fold)
            head = "struct" if up == "ROW" else t.text
            text = f"{head}{nxt.lead}({inner}{toks[close].lead})"
            return text, close + 1, _K_CALL, head
        return t.text, i + 1, _K_IDENT, t.text
    if t.kind == STRING:
        return t.text, i + 1, _K_LIT, None
    if t.kind == NUMBER:
        return t.text, i + 1, _K_NUM, None
    if t.kind == QIDENT:
        return t.text, i + 1, _K_IDENT, None
    if t.text == "(":
        close = _match_close(toks, i, "(", ")", end)
        if close < 0:
            return None
        inner = _transform(toks, i + 1, close, fold)
        return f"({inner}{toks[close].lead})", close + 1, _K_GROUP, None
    return None


def _parse_type_suffix(toks: list[_Tok], i: int, end: int):
    """Type name after ``::?`` — identifier with optional parameter parens
    (``bigint``, ``decimal(10,2)``). Returns ``(text, next_index)`` or
    ``None``."""
    if i >= end or toks[i].kind != IDENT:
        return None
    j = i + 1
    text = toks[i].text
    if j < end and toks[j].text == "(" and toks[j].lead == "":
        # parameter parens must be GLUED to the type name (`decimal(10,2)`,
        # not `bigint (a || b)` — the latter is a following expression) and
        # contain only parameter-shaped tokens
        close = _match_close(toks, j, "(", ")", end)
        if close < 0:
            return None
        inner = toks[j + 1 : close]
        if all(t.kind in (NUMBER, IDENT) or t.text == "," for t in inner):
            text += "(" + _emit_verbatim(toks, j + 1, close).strip() + ")"
            j = close + 1
    return text, j


# ---------------------------------------------------------------------------
# operator folding
# ---------------------------------------------------------------------------

_REGEX_OPS = {"~", "!~", "~*", "!~*"}
# PG's operator spellings for LIKE (what pg_dump and psql \d emit):
# ~~ = LIKE, !~~ = NOT LIKE, ~~* = ILIKE, !~~* = NOT ILIKE — Spark has
# native LIKE/ILIKE, so these lower to keyword form.
_LIKE_OPS = {"~~": "LIKE", "!~~": "NOT LIKE", "~~*": "ILIKE", "!~~*": "NOT ILIKE"}


def _ci_literal(tok_text: str) -> str:
    """'AbC' -> '(?i)AbC' (escaped)."""
    return "'(?i)" + _lit_text(tok_text).replace("'", "''") + "'"


def _fold(
    text: str, kind: str, head: str | None, toks: list[_Tok], j: int, end: int
):
    """Fold postfix/binary PG operators onto the operand ``text`` starting
    at token ``j`` (bounded by ``end``). Returns ``(text, next_index)``.
    Leaves non-PG operators for the caller (they re-emit verbatim)."""
    is_type_head = (
        kind == _K_IDENT and head is not None and head.lower() in _TYPE_KEYWORDS
    ) or (
        kind == _K_CALL and head is not None and head.lower() in _TYPE_KEYWORDS
    )
    # `deletable` tracks whether the current text can be the LHS of a
    # `- 'key'` jsonb delete: primary operands and jsonb-producing folds
    # (arrows / path ops / deletes / ::? casts) are; literals, booleans
    # from regex folds, element_at results, `::` casts, and interval
    # arithmetic tails are not. Mirrors the regex oracle's pass ordering
    # (delete runs after the jsonb/variant rules, before subscripts and
    # regex operators, with a cast-type guard).
    # the bracket ARRAY[..] constructor escapes the `- 'lit'` delete fold
    # — matching the regex oracle, whose operand scanner cannot cross ']'
    # (hypothesis r10 divergence; array()/struct()/ROW() CALLS fold on
    # both)
    deletable = (
        kind in (_K_IDENT, _K_CALL, _K_GROUP) and head != "array["
    )
    while j < end:
        t = toks[j]
        op = t.text
        nxt = toks[j + 1] if j + 1 < end else None

        # --- [N] subscript / [..] passthrough -----------------------------
        if op == "[":
            if kind in (_K_LIT, _K_NUM):
                break  # subscript on a literal: not an array access
            close = _match_close(toks, j, "[", "]", end)
            if close < 0:
                break
            if is_type_head:
                # array TYPE declaration (int[3] / numeric(10,2)[3]): the
                # catalog's DDL type mapper owns this — emit verbatim
                text += t.lead + "[" + _emit_verbatim(toks, j + 1, close)
                text += toks[close].lead + "]"
                j = close + 1
                continue
            if close == j + 2 and toks[j + 1].kind == NUMBER and "." not in toks[j + 1].text:
                text = f"element_at({text}, {toks[j + 1].text})"
                kind, head, is_type_head = _K_REWRITTEN, None, False
                deletable = False
                j = close + 1
                continue
            if (
                close == j + 4
                and toks[j + 1].kind == NUMBER
                and "." not in toks[j + 1].text
                and toks[j + 2].text == ":"
                and toks[j + 3].kind == NUMBER
                and "." not in toks[j + 3].text
                and int(toks[j + 1].text) >= 1
                and int(toks[j + 3].text) >= 1
            ):
                # PG array slice [a:b] (1-based inclusive) -> slice()
                a, b = int(toks[j + 1].text), int(toks[j + 3].text)
                text = f"slice({text}, {a}, {max(b - a + 1, 0)})"
                kind, head, is_type_head = _K_REWRITTEN, None, False
                deletable = False
                j = close + 1
                continue
            # non-integer subscript: Spark-native semantics, emit verbatim
            # (interior still gets PG rewrites) and stop folding — a digit
            # subscript chained after it is caught by the residual guard,
            # matching the regex oracle's raise-don't-shift behavior
            text += t.lead + "[" + _transform(toks, j + 1, close)
            text += toks[close].lead + "]"
            return text, close + 1

        # --- ::? variant-select cast --------------------------------------
        if op == "::?":
            parsed = _parse_type_suffix(toks, j + 1, end)
            if parsed is None:
                break
            type_text, j2 = parsed
            text = f"try_cast({text} AS {type_text})"
            kind, head, is_type_head = _K_REWRITTEN, None, False
            deletable = True  # a variant-selected value can be a document
            j = j2
            continue

        # --- :: native cast: pass through, keep folding -------------------
        if op == "::":
            parsed = _parse_type_suffix(toks, j + 1, end)
            if parsed is None:
                break
            # verbatim reconstruction keeps the original spacing; the slice
            # bound `end` must stay untouched so folding continues past the
            # cast (e.g. `x::text ~ 'p'` still reaches the regex-op rule)
            _type_text, j2 = parsed
            text += t.lead + "::" + toks[j + 1].lead + _emit_verbatim(toks, j + 1, j2)
            # a following [N] on a TYPE name is an array-type cast
            # (`x::bigint[3]`), owned by the catalog's type mapper — keep
            # the type-head fact so the subscript branch passes it through
            kind, head = _K_REWRITTEN, toks[j + 1].text
            is_type_head = toks[j + 1].text.lower() in _TYPE_KEYWORDS
            deletable = False  # `x::bigint - '1'` is arithmetic, not delete
            j = j2
            continue

        # --- (composite).* field expansion --------------------------------
        # PG `(s.p).*` -> Spark `s.p.*` (plain dotted identifier only)
        if (
            op == "."
            and nxt is not None
            and nxt.text == "*"
            and kind == _K_GROUP
        ):
            inner = text[1:-1].strip()
            if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_.]*", inner):
                text = inner + ".*"
                kind, head, is_type_head = _K_REWRITTEN, None, False
                deletable = False
                j += 2
                continue

        # --- jsonb arrows: -> / ->> ---------------------------------------
        if op in ("->", "->>") and nxt is not None and nxt.kind == STRING:
            key = _lit_text(nxt.text)
            text = f"get_json_object({text}, '{_json_path([key])}')"
            kind, head, is_type_head = _K_REWRITTEN, None, False
            deletable = True
            j += 2
            continue

        # --- jsonb path ops: #> / #>> / #- --------------------------------
        if op in ("#>", "#>>", "#-") and nxt is not None and nxt.kind == STRING:
            path = _lit_text(nxt.text)
            keys = [k.strip() for k in path.strip("{}").split(",") if k.strip()]
            if op == "#-":
                text = _delete_expr(text, keys) if keys else text
            else:
                text = f"get_json_object({text}, '{_json_path(keys)}')"
            kind, head, is_type_head = _K_REWRITTEN, None, False
            deletable = True
            j += 2
            continue

        # --- `- 'key'` jsonb top-level delete -----------------------------
        # Fires on deletable text (primary operands and jsonb/variant fold
        # results — deletes CHAIN, PG's left associativity) — never on a
        # literal (text-minus-text is arithmetic/error in PG), a regex-fold
        # boolean, an element_at, or a `::` cast tail
        if op == "-" and nxt is not None and nxt.kind == STRING:
            rhs_text = _lit_text(nxt.text)
            after = toks[j + 2] if j + 2 < end else None
            if (
                deletable
                and not _NUM_OR_INTERVAL.match(rhs_text)
                and not (after is not None and after.text in ("::", "::?"))
            ):
                text = _delete_expr(text, [rhs_text])
                kind, head, is_type_head = _K_REWRITTEN, None, False
                deletable = True
                j += 2
                continue
            # interval/number-string arithmetic: emit verbatim, keep folding
            text += t.lead + "-" + nxt.lead + nxt.text
            kind, head, is_type_head = _K_REWRITTEN, None, False
            deletable = False  # tail is a literal: arithmetic context
            j += 2
            continue

        # --- jsonb containment: @> (literal pattern) / <@ (literal LHS) ---
        if op == "@>" and nxt is not None and nxt.kind == STRING:
            from otterbrix_spark.functions.jsonb import containment_sql

            try:
                text = containment_sql(text, _lit_text(nxt.text))
            except ValueError:
                break  # outside the literal-pattern subset: leave verbatim
            kind, head, is_type_head = _K_REWRITTEN, None, False
            deletable = False  # boolean result
            j += 2
            continue

        if op == "<@" and kind == _K_LIT:
            parsed_rhs = _parse_operand(toks, j + 1, end)
            if parsed_rhs is None:
                break
            from otterbrix_spark.functions.jsonb import containment_sql

            rhs_text, j2, _rk, _rh = parsed_rhs
            try:
                text = containment_sql(rhs_text, _lit_text(text))
            except ValueError:
                break
            kind, head, is_type_head = _K_REWRITTEN, None, False
            deletable = False
            j = j2
            continue

        # --- jsonb key existence: ? 'k' / ?| ARRAY[..] / ?& ARRAY[..] ------
        if op == "?" and nxt is not None and nxt.kind == STRING:
            from otterbrix_spark.functions.jsonb import key_exists_sql

            text = key_exists_sql(text, _lit_text(nxt.text))
            kind, head, is_type_head = _K_REWRITTEN, None, False
            deletable = False
            j += 2
            continue

        if (
            op in ("?|", "?&")
            and nxt is not None
            and nxt.kind == IDENT
            and nxt.text.upper() == "ARRAY"
            and j + 2 < end
            and toks[j + 2].text == "["
        ):
            close = _match_close(toks, j + 2, "[", "]", end)
            inner = toks[j + 3 : close] if close > 0 else []
            if close > 0 and all(
                t.kind == STRING or t.text == "," for t in inner
            ):
                from otterbrix_spark.functions.jsonb import key_exists_sql

                keys = [_lit_text(t.text) for t in inner if t.kind == STRING]
                joiner = " OR " if op == "?|" else " AND "
                text = (
                    "("
                    + joiner.join(key_exists_sql(text, k) for k in keys)
                    + ")"
                )
                kind, head, is_type_head = _K_REWRITTEN, None, False
                deletable = False
                j = close + 1
                continue
            break

        # --- PG LIKE-operator spellings (~~ / !~~ / ~~* / !~~*) -------------
        if op in _LIKE_OPS and nxt is not None and nxt.kind == STRING:
            text = f"{text} {_LIKE_OPS[op]} {nxt.text}"
            kind, head, is_type_head = _K_REWRITTEN, None, False
            deletable = False
            j += 2
            continue

        # --- regex-match operators ----------------------------------------
        if op in _REGEX_OPS and nxt is not None and nxt.kind == STRING:
            if op == "~":
                text = f"{text} RLIKE {nxt.text}"
            elif op == "!~":
                text = f"NOT ({text} RLIKE {nxt.text})"
            elif op == "~*":
                text = f"{text} RLIKE {_ci_literal(nxt.text)}"
            else:  # !~*
                text = f"NOT ({text} RLIKE {_ci_literal(nxt.text)})"
            kind, head, is_type_head = _K_REWRITTEN, None, False
            deletable = False  # boolean result, not a document
            j += 2
            continue

        break
    return text, j


# ---------------------------------------------------------------------------
# driver
# ---------------------------------------------------------------------------


def _transform(toks: list[_Tok], start: int, end: int, fold=None) -> str:
    """Rewrite the token slice [start, end) — the recursive workhorse.
    Emits every token's lead verbatim; only the constructs ``fold``
    claims change text (default: the PG operator folds)."""
    parts: list[str] = []
    i = start
    while i < end:
        t = toks[i]
        parsed = _parse_operand(toks, i, end, fold)
        if parsed is None:
            parts.append(t.lead + t.text)
            i += 1
            continue
        text, j, kind, head = parsed
        text, j = (fold or _fold)(text, kind, head, toks, j, end)
        parts.append(t.lead + text)
        i = j
    return "".join(parts)


def rewrite_ast(sql: str) -> str:
    """Operator folds, then the shared clause passes
    (``dialect._rewrite_clauses``). Idempotent on plain Spark SQL; raises
    on residual 1-based subscripts and on unbalanced input to a clause
    lowering."""
    toks, tail = _tokenize(sql)
    out = _transform(toks, 0, len(toks)) + tail
    body, lits = _protect_strings(out)
    _guard_residual_subscripts(body)
    qbody = _rewrite_clauses(body, lits)
    if qbody is not body:
        out = _restore_strings(qbody, lits)
    return out


def rewrite_casts(sql: str, lower) -> str:
    """Re-emit ``sql`` with each ``operand::type`` cast that
    ``lower(operand_text, type_text)`` claims replaced by its result
    (``None`` keeps the cast). Only casts change — no PG operator fold
    runs — so already-rewritten text is safe input: ``element_at(v, 2) -
    'k'`` stays arithmetic. ``::`` is left-associative, so a chain
    ``x::int::d`` hands ``x::int`` to ``lower``."""
    toks, tail = _tokenize(sql)

    def cast_fold(text, kind, head, toks, j, end):
        while j < end and toks[j].text == "::":
            parsed = _parse_type_suffix(toks, j + 1, end)
            if parsed is None:
                break
            type_text, j2 = parsed
            new = lower(text, type_text)
            if new is None:
                new = (
                    text + toks[j].lead + "::" + toks[j + 1].lead
                    + _emit_verbatim(toks, j + 1, j2)
                )
            text, j = new, j2
        return text, j

    return _transform(toks, 0, len(toks), cast_fold) + tail
