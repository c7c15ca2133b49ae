"""Property-based tests for the PG-dialect rewriter: plain Spark SQL must
pass through byte-identical (idempotence / no-corruption), string literals
are never rewritten, and LIKE-to-regex agrees with SQL LIKE semantics."""

from __future__ import annotations

import re

import pytest
from hypothesis import assume, given, settings, strategies as st

from otterbrix_spark.dialect import apply_pg_null_ordering, rewrite
from otterbrix_spark.functions.strings import like_to_regex

# identifier-ish / SQL-ish fragments that contain none of the PG operators
_sql_atoms = st.sampled_from(
    [
        "SELECT", "FROM", "WHERE", "GROUP BY", "ORDER BY", "AND", "OR",
        "t1", "col_a", "col_b", "x", "y", "42", "3.14", "COUNT(*)",
        "SUM(x)", "(", ")", ",", "=", "<", ">", "<=", ">=", "<>", "+",
        "-", "*", "/", "CASE WHEN x > 1 THEN 2 ELSE 3 END", "CAST(x AS INT)",
        "'a literal'", "'it''s quoted'", "NULL", "IS NOT NULL",
    ]
)


@given(st.lists(_sql_atoms, min_size=1, max_size=25))
@settings(max_examples=200, deadline=None)
def test_plain_sql_passes_through(atoms):
    sql = " ".join(atoms)
    # `<operand> - '<literal>'` is no longer plain SQL: the dialect defines
    # it as jsonb delete (PG's jsonb - text), covered by its own tests
    assume(not re.search(r"[\w)]\s*-\s*'", sql))
    # the ONLY sanctioned transformation of plain Spark SQL is the PG
    # null-ordering default pass (ORDER BY items gain an explicit NULLS
    # spec); everything else must pass through byte-identical
    assert rewrite(sql) == apply_pg_null_ordering(sql)


@given(st.text(alphabet=st.characters(blacklist_characters="'\x00"), max_size=40))
@settings(max_examples=200, deadline=None)
def test_string_literals_never_rewritten(body):
    # any content inside a literal (incl. ~, ->>, ::?) must survive verbatim
    sql = f"SELECT '{body}' AS s, props ->> 'k' FROM t"
    out = rewrite(sql)
    assert f"'{body}'" in out
    assert "get_json_object(props, '$.k')" in out


@given(st.text(alphabet="ab%_c", max_size=10), st.text(alphabet="abc", max_size=10))
@settings(max_examples=300, deadline=None)
def test_like_to_regex_matches_sql_like(pattern, value):
    # reference lowers LIKE to regex at parse time (transfrom_common.cpp);
    # our lowering must agree with SQL LIKE semantics
    rx = like_to_regex(pattern)

    def sql_like(v: str, p: str) -> bool:
        # reference implementation of SQL LIKE via dynamic programming
        n, m = len(v), len(p)
        dp = [[False] * (m + 1) for _ in range(n + 1)]
        dp[0][0] = True
        for j in range(1, m + 1):
            if p[j - 1] == "%":
                dp[0][j] = dp[0][j - 1]
        for i in range(1, n + 1):
            for j in range(1, m + 1):
                if p[j - 1] == "%":
                    dp[i][j] = dp[i][j - 1] or dp[i - 1][j]
                elif p[j - 1] == "_":
                    dp[i][j] = dp[i - 1][j - 1]
                else:
                    dp[i][j] = dp[i - 1][j - 1] and v[i - 1] == p[j - 1]
        return dp[n][m]

    assert (re.fullmatch(rx, value) is not None) == sql_like(value, pattern)


def test_rewrite_idempotent_on_rewritten_output():
    samples = [
        "SELECT props ->> 'k' FROM events WHERE name ~ '^a'",
        "SELECT payload #>> '{a,b,c}' FROM t",
        "SELECT v ::? bigint FROM t",
    ]
    for sql in samples:
        once = rewrite(sql)
        assert rewrite(once) == once


# -- unbalanced input to a clause lowering ------------------------------------
# Each lowering finds its argument list with the shared paren scanner. An
# argument list that never closes must raise, not be closed silently at
# the end of the statement (which produced balanced but wrong SQL).

UNBALANCED = [
    "SELECT EXTRACT(EPOCH FROM ts FROM t",
    "SELECT EXTRACT(ISODOW FROM d FROM t",
    "SELECT 1 FROM t WHERE (a, b) OVERLAPS (c, d",
    "SELECT date_bin('15 minutes', ts, TIMESTAMP '2024-01-01' FROM t",
    "SELECT * FROM generate_series(1, 10 AS g",
]


@pytest.mark.parametrize("sql", UNBALANCED)
def test_unbalanced_lowering_raises(sql):
    with pytest.raises(ValueError, match="unbalanced"):
        rewrite(sql)


_PAREN_CONSTRUCTS = [
    "EXTRACT(EPOCH FROM ts)",
    "EXTRACT(ISODOW FROM coalesce(a, b))",
    "EXTRACT(DOW FROM d)",
    "date_part('dow', d)",
    "(a, b) OVERLAPS (c, f(d))",
    "date_bin('15 minutes', ts, o)",
    "generate_series(1, 10)",
    "string_agg(v, ')' ORDER BY v)",
    "SUM(x) FILTER (WHERE x > 0) OVER (PARTITION BY k)",
]
_STR_LITERAL = re.compile(r"'(?:[^']|'')*'")


def _paren_balance(sql: str) -> int:
    code = _STR_LITERAL.sub("", sql)
    return code.count("(") - code.count(")")


def _drop_closers(text: str, n: int) -> str:
    """``text`` without its last ``n`` closing parens (a truncated form)."""
    for _ in range(n):
        k = text.rfind(")")
        if k < 0:
            break
        text = text[:k] + text[k + 1:]
    return text


@given(
    items=st.lists(
        st.tuples(st.sampled_from(_PAREN_CONSTRUCTS), st.integers(0, 2)),
        min_size=1, max_size=3,
    ),
    table_fn=st.booleans(),
    tail=st.sampled_from(["", " FROM t", " FROM t WHERE (x > 1)", ")"]),
)
@settings(max_examples=300, deadline=None)
def test_rewrite_keeps_paren_balance(items, table_fn, tail):
    # any statement: rewrite() raises ValueError or keeps the paren
    # balance (counted outside string literals) of its input
    pieces = [_drop_closers(c, n) for c, n in items]
    if table_fn:
        sql = f"SELECT * FROM {pieces[0]} AS g(i)" + tail
    else:
        sql = "SELECT " + ", ".join(pieces) + tail
    try:
        out = rewrite(sql)
    except ValueError:
        return
    assert _paren_balance(out) == _paren_balance(sql), (sql, out)


# -- JSONB delete rewrites (`-` / `#-`) --------------------------------------


def test_rewrite_top_level_delete():
    out = rewrite("SELECT doc - 'k' FROM t")
    assert "map_filter" in out and "map<string,variant>" in out
    assert "k0 != 'k'" in out


def test_rewrite_path_delete_two_levels():
    out = rewrite("SELECT doc #- '{a,b}' FROM t")
    assert "transform_values" in out
    assert "k1 != 'b'" in out and "= 'a'" in out


def test_rewrite_path_delete_three_levels_recurses():
    out = rewrite("SELECT doc #- '{a,b,c}' FROM t")
    assert out.count("transform_values") == 2
    assert "k2 != 'c'" in out


def test_minus_without_string_literal_untouched():
    sql = "SELECT a - b, a - 1, ts - INTERVAL '1 day' FROM t"
    assert rewrite(sql) == sql


def test_path_delete_before_path_navigate_no_interference():
    out = rewrite("SELECT doc #>> '{a,b}' FROM t")
    assert "get_json_object(doc, '$.a.b')" in out
    assert "map_filter" not in out


# -- regex operator variants (`!~`, `~*`, `!~*`) ------------------------------


def test_rewrite_negated_regex():
    assert rewrite("SELECT x !~ 'abc' AS m") == "SELECT NOT (x RLIKE 'abc') AS m"


def test_rewrite_case_insensitive_regex():
    assert rewrite("SELECT x ~* 'AbC' AS m") == "SELECT x RLIKE '(?i)AbC' AS m"


def test_rewrite_negated_case_insensitive_regex():
    assert rewrite("SELECT x !~* 'p' AS m") == "SELECT NOT (x RLIKE '(?i)p') AS m"


def test_regex_ops_end_to_end(spark):
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    rows = eng.sql(
        "SELECT 'Hello' ~ 'ell' AS a, 'Hello' ~ 'xyz' AS b, "
        "'Hello' !~ 'xyz' AS c, 'Hello' ~* 'HELLO' AS d, 'Hello' !~* 'HELLO' AS e"
    ).collect()[0]
    assert tuple(rows) == (True, False, True, True, False)


# -- PG array syntax rules ----------------------------------------------------


def test_rewrite_array_literal_and_subscript():
    out = rewrite("SELECT ARRAY[1, 2, 3] AS a, v[2] AS second FROM t")
    assert "array(1, 2, 3)" in out
    assert "element_at(v, 2)" in out


def test_type_declaration_subscript_untouched():
    sql = "CREATE TABLE t (id bigint, v int[3], w double[])"
    out = rewrite(sql)
    assert "int[3]" in out and "double[]" in out
    assert "element_at" not in out


@given(
    st.lists(
        st.sampled_from(
            ["SELECT", "a", "+", "1", ",", "ARRAY[1,2]", "v[3]", "'lit[1]'"]
        ),
        min_size=1,
        max_size=6,
    )
)
def test_array_rewrite_never_touches_string_literals(atoms):
    out = rewrite(" ".join(atoms))
    assert "'lit[1]'" in out or "lit[1]" not in " ".join(atoms) or "'lit" in out


def test_nested_call_subscript_balanced_parens():
    out = rewrite("SELECT string_to_array(lower(x), ',')[2] FROM t")
    assert "element_at(string_to_array(lower(x), ','), 2)" in out


def test_parameterized_array_type_ddl_survives():
    out = rewrite("CREATE TABLE t (a numeric(10,2)[3], b varchar(20)[2])")
    assert "numeric(10,2)[3]" in out and "varchar(20)[2]" in out
    assert "element_at" not in out


def test_paren_group_subscript():
    assert "element_at((a || b), 1)" in rewrite("SELECT (a || b)[1] FROM t")


def test_chained_subscripts_converge():
    out = rewrite("SELECT col[1][2] FROM t")
    assert "element_at(element_at(col, 1), 2)" in out


def test_nested_call_lhs_all_operators():
    # balanced-operand scanning applies to every binary PG operator, not
    # just subscripts: nested-call LHS must rewrite, not pass through
    assert "get_json_object(json_extract(j, lower(x)), '$.k')" in rewrite(
        "SELECT json_extract(j, lower(x)) -> 'k' FROM t"
    )
    assert "get_json_object(nullif(f(a), g(b)), '$.a.b')" in rewrite(
        "SELECT nullif(f(a), g(b)) #>> '{a,b}' FROM t"
    )
    assert "try_cast(coalesce(f(x), g(y)) AS int)" in rewrite(
        "SELECT coalesce(f(x), g(y)) ::? int FROM t"
    )
    assert "trim(lower(name)) RLIKE 'abc'" in rewrite(
        "SELECT trim(lower(name)) ~ 'abc' FROM t"
    )


def test_arrow_chain_left_associative_with_complex_head():
    # the leftmost-first scanner keeps PG's left associativity even when
    # the chain head is a nested call the old regex pass skipped
    out = rewrite("SELECT coalesce(f(x), j) -> 'a' ->> 'b' FROM t")
    assert (
        "get_json_object(get_json_object(coalesce(f(x), j), '$.a'), '$.b')"
        in out
    )


def test_interval_arithmetic_and_prefix_ops_untouched():
    assert "o_orderdate - '3 days'" in rewrite(
        "SELECT o_orderdate - '3 days' FROM orders"
    )
    assert "~5" in rewrite("SELECT ~5 FROM t")  # prefix bitwise NOT


# -- consolidated VALUES-tuple walker (VERDICT r11 #3) -----------------------
# One string-aware walker now backs identity→DEFAULT rewriting, the
# GENERATED ALWAYS refusal scan, and DEFAULT-keyword folding. The property:
# for ANY adversarial tuple items (quotes, escaped quotes, commas and
# parens inside strings, the word DEFAULT inside literals/expressions),
# all three walkers agree on item boundaries and touch exactly the
# positions they should.

_ADVERSARIAL_ITEMS = st.sampled_from([
    "1",
    "'a'",
    "'it''s, (a'",
    "'DEFAULT'",
    "' DEFAULT '",
    "concat('a,b', ')', 'DEFAULT')",
    "coalesce(NULL, 'x))')",
    "DEFAULT",
    "default",
    "  DEFAULT  ",
    "1 + (2 * 3)",
    "'quote''end'",
    "upper('default,default')",
])


@given(
    rows=st.lists(
        st.lists(_ADVERSARIAL_ITEMS, min_size=1, max_size=5),
        min_size=1, max_size=4,
    ),
    idpos=st.integers(min_value=0, max_value=4),
)
@settings(max_examples=150, deadline=None)
def test_values_walkers_agree_on_adversarial_tuples(rows, idpos):
    from otterbrix_spark.catalog import (
        _map_values_items,
        _values_explicit_identity,
        _values_set_default,
        _values_tuples,
    )
    from otterbrix_spark.dialect import _split_top_level

    width = len(rows[0])
    rows = [r[:width] + ["1"] * (width - len(r)) for r in rows]
    body = "VALUES " + ", ".join(
        "(" + ", ".join(r) + ")" for r in rows
    )
    cols = [f"c{i}" for i in range(width)]

    # walker identity: fn = no-op preserves every item (mod whitespace)
    rebuilt = _map_values_items(body, lambda i, it: it)
    assert rebuilt is not None
    out_rows = [
        _split_top_level(t.strip()[1:-1])
        for t in _values_tuples(rebuilt)[1]
    ]
    assert [
        [x.strip() for x in r] for r in out_rows
    ] == [[x.strip() for x in r] for r in rows]

    # refusal scan flags exactly the columns holding a non-bare-DEFAULT
    # item in some tuple
    idc = {cols[min(idpos, width - 1)]}
    expect_bad = sorted(
        c for j, c in enumerate(cols) if c in idc and any(
            r[j].strip().upper() != "DEFAULT" for r in rows
        )
    )
    assert _values_explicit_identity(body, cols, idc) == expect_bad

    # identity rewrite: flagged positions become DEFAULT, all other
    # items survive byte-identically (mod whitespace); after the
    # rewrite the refusal scan must be clean
    rewritten = _values_set_default(body, cols, idc)
    assert _values_explicit_identity(rewritten, cols, idc) == []
    rew_rows = [
        [x.strip() for x in _split_top_level(t.strip()[1:-1])]
        for t in _values_tuples(rewritten)[1]
    ]
    for orig, rew in zip(rows, rew_rows):
        for j, (o, r) in enumerate(zip(orig, rew)):
            if cols[j] in idc:
                assert r == "DEFAULT"
            else:
                assert r == o.strip()


def test_values_walker_non_values_body():
    from otterbrix_spark.catalog import (
        _map_values_items,
        _values_explicit_identity,
        _values_set_default,
    )

    sel = "SELECT 1 AS a, 'VALUES (x)' AS b"
    assert _map_values_items(sel, lambda i, it: it) is None
    assert _values_set_default(sel, ["a", "b"], {"a"}) == sel
    # SELECT source: every covered column counts as explicit
    assert _values_explicit_identity(sel, ["a", "b"], {"a"}) == ["a"]
