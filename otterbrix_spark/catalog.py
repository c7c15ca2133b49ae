"""SQL statement router — entry point A's DDL/DML half.

The reference's `execute_sql` accepts the full PG statement surface; Spark's
`spark.sql` covers SELECT/WITH/CREATE VIEW natively, but DML against managed
tables needs routing into the parquet-backed `ManagedTable` layer
(operators/dml.py). This router classifies a statement by its leading
keywords — the same coarse dispatch the reference's transformer performs on
parse-node tags (`components/sql/transformer/transformer.cpp:29-160`) — and
executes it:

  - CREATE TABLE <name> AS <select>     -> ManagedTable.create + temp view
  - CREATE [OR REPLACE] VIEW <n> AS ... -> spark.sql (native)
  - DROP TABLE <name>                   -> ManagedTable.drop + catalog drop
  - INSERT INTO <name> <select|VALUES>  -> ManagedTable.insert + re-register
  - UPDATE <name> SET c = expr[, ...] [WHERE cond] -> ManagedTable.update
  - DELETE FROM <name> [WHERE cond]     -> ManagedTable.delete
  - everything else                     -> spark.sql

UPDATE/DELETE expression and predicate text is handed to `F.expr` — i.e. the
full Spark SQL expression language, a superset of the reference's SET
expression tree. RETURNING is supported on all three DML forms.
"""

from __future__ import annotations

import os
import re
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from otterbrix_spark.dialect import _scan_balanced, _split_top_level
from otterbrix_spark.operators.dml import (
    ManagedTable,
    MaterializedView,
    Observed,
    apply_delete,
    apply_update,
    count_pass,
    pin,
    sql_type,
)

_CREATE_TABLE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s+AS\s+(.*)$",
    re.IGNORECASE | re.DOTALL,
)
_CREATE_TABLE_TYPED = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*\((.*)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
# trailing declarative-partitioning clause (PG PARTITION BY LIST/RANGE/
# HASH) — stripped before the typed-column parse, lowered to hive-style
# directory partitioning
_PARTITION_BY_TAIL = re.compile(
    r"\s*PARTITION\s+BY\s+(?:LIST\s*|RANGE\s*|HASH\s*)?"
    r"\(\s*([\w\s,]+?)\s*\)\s*;?\s*$",
    re.IGNORECASE,
)
_CREATE_DATABASE = re.compile(
    r"^\s*(CREATE|DROP)\s+DATABASE\s+(?:IF\s+(?:NOT\s+)?EXISTS\s+)?([\w.]+)\s*$",
    re.IGNORECASE,
)

# PG/reference type name -> Spark DDL type (scalar part of
# functions/types_map.LOGICAL_TO_SPARK, spelled as DDL strings)
_PG_SCALAR_TYPES = {
    "bool": "boolean", "boolean": "boolean",
    "tinyint": "tinyint", "smallint": "smallint", "int2": "smallint",
    "int": "int", "integer": "int", "int4": "int",
    "bigint": "bigint", "int8": "bigint",
    "real": "float", "float4": "float",
    # PG: bare FLOAT defaults to float8 (double precision)
    "float": "double",
    "double": "double", "float8": "double", "double precision": "double",
    "text": "string", "varchar": "string", "char": "string",
    "string": "string", "uuid": "string",
    "date": "date", "timestamp": "timestamp_ntz",
    "timestamptz": "timestamp", "timestamp with time zone": "timestamp",
    # PG TIME (+ the deprecated timetz): Spark 4.1 TIME, enabled by the
    # session flag spark.sql.timeType.enabled (session.py). TZ-less like PG.
    "time": "time", "timetz": "time", "time with time zone": "time",
    "time without time zone": "time",
    # PG interval: Spark's day-time interval (PG-style '2 days 3 hours'
    # literals parse natively; year-month parts need a separate column type
    # in Spark and are out of scope like the reference's month arithmetic)
    "interval": "interval day to second",
    "blob": "binary", "bytea": "binary",
}


def _pg_type_to_ddl(t: str, custom: dict[str, dict] | None = None) -> str:
    """'int[3]' -> 'array<int>', 'varchar(10)' -> 'string', etc. ``custom``
    maps CREATE TYPE names: enum -> string (labels enforced by a generated
    CHECK), composite -> struct<...> resolved recursively (reference
    transformer.cpp:75-80, SURVEY §1.2 type mapping)."""
    t = t.strip().lower()
    # inline generic types (struct<..>/array<..>/map<..>): recurse into the
    # element types so PG spellings inside them still translate
    # (reference inline composite columns, test_correctness_bugs.cpp:211)
    g = re.match(r"^(struct|array|map)\s*<(.*)>$", t, re.DOTALL)
    if g:
        kind, inner = g.group(1), g.group(2)
        if kind == "array":
            return f"array<{_pg_type_to_ddl(inner, custom)}>"
        if kind == "map":
            parts = _split_top_level(inner)
            if len(parts) != 2:
                raise ValueError(f"unsupported column type: {t!r}")
            k, v = parts
            return (
                f"map<{_pg_type_to_ddl(k, custom)},"
                f"{_pg_type_to_ddl(v, custom)}>"
            )
        fields = []
        for part in _split_top_level(inner):
            if ":" not in part:
                raise ValueError(f"unsupported column type: {t!r}")
            fn, ft = part.strip().split(":", 1)
            fields.append(f"{fn.strip()}:{_pg_type_to_ddl(ft, custom)}")
        return "struct<" + ",".join(fields) + ">"
    arr = re.match(r"^(.+?)\s*\[\s*\d*\s*\]$", t)
    if arr:
        return f"array<{_pg_type_to_ddl(arr.group(1), custom)}>"
    m = re.match(r"^(decimal|numeric)\s*\((\d+)\s*,\s*(\d+)\)$", t)
    if m:
        return f"decimal({m.group(2)},{m.group(3)})"
    base = re.sub(r"\(.*\)$", "", t).strip()
    if custom and base in custom:
        ct = custom[base]
        if ct["kind"] == "enum":
            return "string"
        if ct["kind"] == "domain":
            # a domain column stores as its base type; the domain's
            # constraints are instantiated at CREATE TABLE time
            return _pg_type_to_ddl(ct["base"], custom)
        inner = ",".join(
            f"{fn}:{_pg_type_to_ddl(ft, custom)}" for fn, ft in ct["fields"]
        )
        return f"struct<{inner}>"
    if base not in _PG_SCALAR_TYPES:
        raise ValueError(f"unsupported column type: {t!r}")
    return _PG_SCALAR_TYPES[base]
def _subst_ident(expr: str, old: str, new: str) -> str:
    """Replace word-bounded ``old`` with ``new`` OUTSIDE single-quoted
    string literals ('' escape respected). A plain \\b regex rewrites
    occurrences inside literals too (ADVICE r12: CREATE DOMAIN d AS TEXT
    CHECK (VALUE <> 'value') must not instantiate as col <> 'col')."""
    pat = re.compile(rf"\b{re.escape(old)}\b", re.IGNORECASE)
    out, i, n = [], 0, len(expr)
    while i < n:
        if expr[i] == "'":
            j = i + 1
            while j < n:
                if expr[j] == "'" and j + 1 < n and expr[j + 1] == "'":
                    j += 2
                elif expr[j] == "'":
                    j += 1
                    break
                else:
                    j += 1
            out.append(expr[i:j])
            i = j
        else:
            j = expr.find("'", i)
            if j == -1:
                j = n
            out.append(pat.sub(new, expr[i:j]))
            i = j
    return "".join(out)


def _domain_check_con(col: str, domain: str, chk: dict) -> dict:
    """Instantiate one domain CHECK on a column: VALUE -> the column
    name, NULL passing (PG domain CHECKs accept NULL unless NOT NULL is
    separate). The instantiated name carries the domain constraint name
    so ALTER DOMAIN DROP CONSTRAINT can find it on every dependent."""
    expr = _subst_ident(chk["expr"], "VALUE", col)
    return {
        "kind": "check", "name": f"{col}_{chk['name']}",
        "expr": f"{col} IS NULL OR ({expr})",
    }


def _domain_notnull_con(col: str, domain: str) -> dict:
    return {
        "kind": "check", "name": f"{col}_{domain}_not_null",
        "expr": f"{col} IS NOT NULL",
    }


def _enum_check_con(col: str, labels: list) -> dict:
    """The generated label CHECK for an enum column — ONE construction
    shared by typed CREATE, ADD COLUMN, and ALTER TYPE's rewrites."""
    quoted = ", ".join("'" + lbl.replace("'", "''") + "'" for lbl in labels)
    return {
        "kind": "check", "name": f"{col}_enum",
        "expr": f"{col} IS NULL OR {col} IN ({quoted})",
    }


_COPY_STMT = re.compile(
    r"^\s*COPY\s+(?:\((?P<q>.+)\)|(?P<tbl>[A-Za-z_]\w*)\s*"
    r"(?:\((?P<cols>[^)]*)\))?)\s+(?P<dir>FROM|TO)\s+'(?P<path>[^']+)'"
    r"\s*(?:WITH\s*)?(?:\((?P<opts>[^)]*)\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_DROP_TABLE = re.compile(
    r"^\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?([\w.]+)\s*$", re.IGNORECASE
)
# Router-owned DDL families: if a statement in one of these families
# reaches the END of route() without a rule consuming it, the router MUST
# raise instead of silently handing it to spark.sql — Spark would either
# fail with an unrelated message or, worse, act on its own catalog and
# silently diverge from the managed-table state (the failure mode a
# mis-ordered or too-narrow rule regex would otherwise hide). DML and
# plain views are deliberately NOT listed: falling through is their
# supported path for Spark-native targets.
_OWNED_DDL_FAMILIES = re.compile(
    r"^\s*(?:(?:CREATE|DROP|ALTER)\s+(?:OR\s+REPLACE\s+)?(?:UNIQUE\s+)?"
    r"(?:TEMP(?:ORARY)?\s+)?(?:UNLOGGED\s+)?"
    r"(?:TABLE|TYPE|DOMAIN|SEQUENCE|FUNCTION|INDEX|DATABASE"
    r"|MATERIALIZED\s+VIEW)\b"
    r"|(?:VACUUM|CHECKPOINT)\b"
    r"|SET\s+TIME\s*ZONE\b"
    r"|(?:BEGIN|COMMIT|ROLLBACK|ABORT)\b)",
    re.IGNORECASE,
)
# constraint DDL (reference ALTER TABLE ... ADD CONSTRAINT —
# integration/cpp/test/test_correctness_bugs.cpp:430,502,
# test_large_aggregate_dml.cpp:228: CHECK and FOREIGN KEY [ON DELETE CASCADE])
_ADD_CONSTRAINT = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+CONSTRAINT\s+(\w+)\s+(.*?)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_CONSTRAINT = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+CONSTRAINT\s+(?:IF\s+EXISTS\s+)?(\w+)\s*$",
    re.IGNORECASE,
)
_CHECK_BODY = re.compile(r"^CHECK\s*\((.*)\)$", re.IGNORECASE | re.DOTALL)
_FK_BODY = re.compile(
    r"^FOREIGN\s+KEY\s*\(\s*(\w+)\s*\)\s+REFERENCES\s+([\w.]+)\s*"
    r"\(\s*(\w+)\s*\)"
    r"(?:\s+ON\s+DELETE\s+(CASCADE|RESTRICT|NO\s+ACTION|SET\s+NULL))?$",
    re.IGNORECASE | re.DOTALL,
)
_CREATE_VIEW = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+([\w.]+)\s+AS\s+(.*)$",
    re.IGNORECASE | re.DOTALL,
)
_CREATE_MATVIEW = re.compile(
    r"^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s+AS\s+(.*)$",
    re.IGNORECASE | re.DOTALL,
)
_REFRESH_MATVIEW = re.compile(
    r"^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+([\w.]+)\s*$", re.IGNORECASE
)
_DROP_VIEW = re.compile(
    r"^\s*DROP\s+(MATERIALIZED\s+)?VIEW\s+(?:IF\s+EXISTS\s+)?([\w.]+)\s*$",
    re.IGNORECASE,
)
_INSERT = re.compile(
    r"^\s*INSERT\s+INTO\s+([\w.]+)\s+(.*?)(?:\s+RETURNING\s+(.+?))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# PG upsert (reference dialect family: INSERT ... ON CONFLICT <arbiter>
# DO NOTHING | DO UPDATE SET ...): the arbiter column list must name a
# declared PRIMARY KEY / UNIQUE constraint, exactly as PG requires an
# arbiter index
_INSERT_CONFLICT = re.compile(
    r"^\s*INSERT\s+INTO\s+([\w.]+)\s+(.*?)\s+ON\s+CONFLICT\s*"
    r"(?:\(\s*([\w\s,]+?)\s*\)|ON\s+CONSTRAINT\s+(\w+))?\s*DO\s+"
    r"(NOTHING|UPDATE\s+SET\s+.*?)(?:\s+WHERE\s+(.+?))?"
    r"(?:\s+RETURNING\s+(.+?))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE = re.compile(
    r"^\s*UPDATE\s+([\w.]+)\s+SET\s+(.*?)(?:\s+WHERE\s+(.*?))?(?:\s+RETURNING\s+(.+?))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# PG join-update: UPDATE t SET ... FROM src [AS alias] WHERE <join cond>.
# SET/WHERE expressions may reference both tables (qualify on ambiguity).
_UPDATE_FROM = re.compile(
    r"^\s*UPDATE\s+([\w.]+)\s+SET\s+(.*?)\s+FROM\s+([\w.]+)"
    r"(?:\s+(?:AS\s+)?(?!WHERE\b)(\w+))?"
    r"\s+WHERE\s+(.*?)(?:\s+RETURNING\s+(.+?))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE = re.compile(
    r"^\s*DELETE\s+FROM\s+([\w.]+)(?:\s+WHERE\s+(.*?))?(?:\s+RETURNING\s+(.+?))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_USING = re.compile(
    r"^\s*DELETE\s+FROM\s+([\w.]+)(?:\s+(?:AS\s+)?(?!USING\b)(\w+))?"
    r"\s+USING\s+([\w.]+)(?:\s+(?:AS\s+)?(?!WHERE\b)(\w+))?"
    r"\s+WHERE\s+(.*?)(?:\s+RETURNING\s+(.+?))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# PG TRUNCATE (grammar TruncateStmt): multi-table, RESTART IDENTITY
# resets sequences named by the tables' column DEFAULTs, RESTRICT
# (default) refuses when an FK from a non-truncated table references a
# truncated one (PG errors even with zero referencing rows), CASCADE
# pulls FK dependents into the truncation set transitively.
_TRUNCATE = re.compile(
    r"^\s*TRUNCATE\s+(?:TABLE\s+)?([\w.]+(?:\s*,\s*[\w.]+)*)"
    r"(?:\s+(RESTART|CONTINUE)\s+IDENTITY)?"
    r"(?:\s+(CASCADE|RESTRICT))?\s*;?\s*$",
    re.IGNORECASE,
)
# PG 15 MERGE (reference upsert family, same statement surface as
# postgresql MERGE INTO): target and source are table/view names, the
# WHEN list is ordered and first-match-wins per candidate row.
_MERGE = re.compile(
    r"^\s*MERGE\s+INTO\s+([\w.]+)(?:\s+(?:AS\s+)?(?!USING\b)(\w+))?"
    r"\s+USING\s+([\w.]+)(?:\s+(?:AS\s+)?(?!ON\b)(\w+))?"
    r"\s+ON\s+(.+?)\s+(WHEN\s+.+?)\s*$",
    re.IGNORECASE | re.DOTALL,
)
# one WHEN [NOT] MATCHED [AND cond] THEN <action> clause; the lookahead
# stops each action text at the next WHEN (or end of statement)
_MERGE_WHEN = re.compile(
    r"WHEN\s+(NOT\s+)?MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+"
    r"(UPDATE\s+SET\s+.+?|DELETE|INSERT\s+.+?|DO\s+NOTHING)"
    r"(?=\s+WHEN\s+(?:NOT\s+)?MATCHED\b|\s*$)",
    re.IGNORECASE | re.DOTALL,
)
_MERGE_INSERT = re.compile(
    r"^INSERT\s*(?:\(\s*(\w+(?:\s*,\s*\w+)*)\s*\))?\s*"
    r"VALUES\s*\((.+)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)


# `SET v[1] = ...` — either raw PG form or post-dialect `element_at(v, 1)`
# (the dialect rewrites subscripts before the router parses the SET list)
_SUBSCRIPT_TARGET = re.compile(
    r"^(?:(\w+)\s*\[\s*(\d+)\s*\]|element_at\(\s*(\w+)\s*,\s*(\d+)\s*\))$"
)


def _resolve_set_targets(sets: dict[str, str]) -> dict[str, "F.Column"]:
    """Turn SET-clause text into Column expressions, lowering PG array-
    element targets (``SET v[1] = expr``, 1-based — reference
    test_list_array.cpp) into a positional `transform` over the array."""
    out: dict[str, F.Column] = {}
    for target, expr_text in sets.items():
        m = _SUBSCRIPT_TARGET.match(target)
        if m:
            col = m.group(1) or m.group(3)
            idx = int(m.group(2) or m.group(4))
            out[col] = F.expr(
                f"transform({col}, (_x, _i) -> "
                f"CASE WHEN _i = {idx - 1} THEN ({expr_text}) ELSE _x END)"
            )
        else:
            out[target] = F.expr(expr_text)
    return out


def _values_tuples(body: str) -> "tuple[str, list[str]] | None":
    """Split a ``VALUES (...), (...)`` body into (prefix, tuple texts) —
    string-aware via _split_top_level; None when the body is not a
    VALUES list."""
    m = re.match(r"^(VALUES\s*)(.+)$", body, re.IGNORECASE | re.DOTALL)
    if not m:
        return None
    return m.group(1), _split_top_level(m.group(2))


def _map_values_items(body: str, fn) -> "str | None":
    """THE string-aware VALUES-tuple walker (consolidates the three
    formerly-triplicated walkers — identity→DEFAULT rewriting, the
    GENERATED ALWAYS refusal scan, and DEFAULT-keyword folding; VERDICT
    r11 #3). Applies ``fn(item_index, item_text) -> new_item_text`` to
    every top-level item of every VALUES tuple; splitting is quote- and
    paren-aware via _split_top_level, so commas/parens/keywords inside
    string literals never act as boundaries. Non-parenthesised rows pass
    through untouched. Returns the rebuilt body, or None when the body
    is not a VALUES list."""
    parsed = _values_tuples(body)
    if parsed is None:
        return None
    prefix, tups = parsed
    out = []
    for tup in tups:
        t = tup.strip()
        if not (t.startswith("(") and t.endswith(")")):
            out.append(t)
            continue
        items = _split_top_level(t[1:-1])
        items = [fn(i, it) for i, it in enumerate(items)]
        out.append("(" + ", ".join(s.strip() for s in items) + ")")
    return prefix + ", ".join(out)


def _values_frame(spark, body: str):
    """Evaluate a VALUES body to a DataFrame. Spark inline tables only
    accept FOLDABLE expressions — a lowered ``::domain`` cast (CASE ...
    raise_error, x33) must run through SELECT row unions instead. Only
    that rare path pays the rewrite; plain VALUES keeps the single
    inline-table coercion fast path."""
    if re.search(r"\braise_error\s*\(", body, re.IGNORECASE):
        parsed = _values_tuples(body)
        if parsed is not None:
            sel = " UNION ALL ".join(
                f"SELECT {t.strip()[1:-1]}" for t in parsed[1]
                if t.strip().startswith("(")
            )
            if sel:
                return spark.sql(sel)
    return spark.sql(f"SELECT * FROM ({body}) ")


def _values_set_default(body: str, target_cols: list, idc: set) -> str:
    """Rewrite every identity-column position of every VALUES tuple to
    the DEFAULT keyword (PG OVERRIDING USER VALUE: supplied values are
    discarded in favour of the sequence — and folding the keyword keeps
    the sequence consumption at exactly one value per row)."""
    out = _map_values_items(
        body,
        lambda i, it: (
            "DEFAULT"
            if i < len(target_cols) and target_cols[i] in idc
            else it
        ),
    )
    return body if out is None else out


def _values_explicit_identity(
    body: str, target_cols: list, ids: set
) -> list:
    """Identity columns that receive an explicit (non-DEFAULT) value in
    any VALUES tuple — the GENERATED ALWAYS refusal set. Item-exact:
    only the bare DEFAULT keyword passes, so string literals containing
    the word or parens inside expressions cannot confuse the check."""
    bad: set = set()

    def scan(i: int, item: str) -> str:
        if (
            i < len(target_cols)
            and target_cols[i] in ids
            and item.strip().upper() != "DEFAULT"
        ):
            bad.add(target_cols[i])
        return item

    if _map_values_items(body, scan) is None:
        return sorted(ids & set(target_cols))
    return sorted(bad)


def _split_set_list(set_clause: str) -> dict[str, str]:
    """Split 'a = expr1, b = expr2' respecting parens and quotes."""
    out = {}
    for p in _split_top_level(set_clause):
        # PG row-form assignment: SET (a, b) = (e1, e2) — one paren-
        # protected piece; expand pairwise (the subquery form
        # `= (SELECT ...)` is refused loudly, not mis-parsed)
        m_row = re.match(
            r"^\s*\(\s*(\w+(?:\s*,\s*\w+)+)\s*\)\s*=\s*\((.+)\)\s*$",
            p, re.DOTALL,
        )
        if m_row:
            cols = [c.strip() for c in m_row.group(1).split(",")]
            body = m_row.group(2).strip()
            if re.match(r"^SELECT\b", body, re.IGNORECASE):
                raise ValueError(
                    "UPDATE SET (cols) = (SELECT ...) is not supported; "
                    "use UPDATE ... FROM or per-column expressions"
                )
            exprs = [e.strip() for e in _split_top_level(body)]
            if len(cols) != len(exprs):
                raise ValueError(
                    f"SET ({m_row.group(1)}): column list and expression "
                    "tuple arity differ"
                )
            out.update(zip(cols, exprs))
            continue
        col, _, expr = p.partition("=")
        out[col.strip()] = expr.strip()
    return out


_CREATE_FUNCTION = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?FUNCTION\s+([\w.]+)\s*\(([^)]*)\)\s*"
    r"RETURNS\s+([\w]+(?:\s*\(\s*\d+\s*(?:,\s*\d+)?\s*\))?)\s+"
    r"(?:AS\s+('(?:[^']|'')*')|RETURN\s+(.+))\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_FUNCTION = re.compile(
    r"^\s*DROP\s+FUNCTION\s+(?:IF\s+EXISTS\s+)?([\w.]+)\s*(?:\(\s*[^)]*\))?\s*$",
    re.IGNORECASE,
)


def _macro_expr(body_literal: str | None, return_expr: str | None,
                param_names: list[str]) -> str:
    """Reference CREATE FUNCTION bodies are lambda strings
    (``'x -> x * 2'``, test_sql_features.cpp:4478) lowered to SQL-body
    substitution (transform_macro.cpp); Spark ≥3.4 SQL UDFs take
    ``RETURN <expr>``. Formal lambda names map positionally onto the
    declared parameter names."""
    if return_expr is not None:
        return return_expr.strip()
    text = body_literal.strip()[1:-1].replace("''", "'").strip()
    m = re.match(r"^\(?\s*([\w\s,]+?)\s*\)?\s*->\s*(.*)$", text, re.DOTALL)
    if not m:
        return text  # plain expression body
    formals = [p.strip() for p in m.group(1).split(",")]
    expr = m.group(2).strip()
    for formal, declared in zip(formals, param_names):
        if formal != declared:
            expr = re.sub(rf"\b{re.escape(formal)}\b", declared, expr)
    return expr


def _parse_constraint_body(cname: str, body: str) -> dict:
    """CHECK (...) / FOREIGN KEY (c) REFERENCES p (k) [ON DELETE ...] /
    UNIQUE (cols) / PRIMARY KEY (cols) -> constraint record (reference
    transformer constraint nodes). A named PRIMARY KEY carries
    ``pk: True`` so callers add the per-column NOT NULL checks, same as
    the anonymous table-level form."""
    body = body.strip().rstrip(";").strip()
    mb = _CHECK_BODY.match(body)
    if mb:
        return {"kind": "check", "name": cname, "expr": mb.group(1)}
    mpk = re.match(
        r"^(PRIMARY\s+KEY|UNIQUE)\s*\(\s*([\w\s,]+?)\s*\)$",
        body, re.IGNORECASE,
    )
    if mpk:
        return {
            "kind": "unique", "name": cname,
            "cols": [k.strip() for k in mpk.group(2).split(",")],
            "pk": mpk.group(1).upper().startswith("P"),
        }
    mb = _FK_BODY.match(body)
    if mb:
        action = re.sub(r"\s+", " ", (mb.group(4) or "")).strip().lower()
        return {
            "kind": "fk",
            "name": cname,
            "child_key": mb.group(1),
            "parent": mb.group(2),
            "parent_key": mb.group(3),
            "on_delete": (
                "cascade" if action == "cascade"
                else "set_null" if action == "set null"
                else "restrict"
            ),
        }
    raise ValueError(f"unsupported constraint body: {body!r}")


# -- data-modifying CTEs (PG WITH ... AS (INSERT/UPDATE/DELETE ...)) ----------

_WITH_HEAD = re.compile(r"^\s*WITH\s+", re.IGNORECASE)
_WITH_RECURSIVE = re.compile(r"^\s*WITH\s+RECURSIVE\b", re.IGNORECASE)
_CTE_HEAD = re.compile(
    r"\s*([A-Za-z_]\w*)\s*(\([\w\s,]*\))?\s*AS\s*"
    r"(?:(?:NOT\s+)?MATERIALIZED\s*)?\(",
    re.IGNORECASE,
)
_DML_HEAD = re.compile(r"^\s*(INSERT|UPDATE|DELETE|MERGE)\b", re.IGNORECASE)
_DML_TARGET = re.compile(
    r"^\s*(?:INSERT\s+INTO|UPDATE|DELETE\s+FROM|MERGE\s+INTO)\s+([\w.]+)",
    re.IGNORECASE,
)
_CTE_SEP = re.compile(r"\s*,")


def _parse_with_clauses(sql: str):
    """Parse ``WITH name [(cols)] AS ( body ) [, ...] tail`` into
    ``([(name, collist, body), ...], tail)`` — or None if the text is not
    a simple WITH statement this parser understands (WITH RECURSIVE is
    the recursive-CTE operator's job, `operators/recursive.py`)."""
    m = _WITH_HEAD.match(sql)
    if not m or _WITH_RECURSIVE.match(sql):
        return None
    i, ctes = m.end(), []
    while True:
        mm = _CTE_HEAD.match(sql, i)
        if not mm:
            return None

        open_i = mm.end() - 1
        try:
            close = _scan_balanced(sql, open_i)
        except ValueError:
            return None
        ctes.append(
            (mm.group(1), mm.group(2), sql[open_i + 1:close - 1].strip())
        )
        mc = _CTE_SEP.match(sql, close)
        if mc:
            i = mc.end()
            continue
        return ctes, sql[close:].strip().rstrip(";").strip()


import functools


def _find_depth0_source(sql: str, kw: str):
    """Find ``<kw> (`` at paren depth 0 outside string literals — the
    join-source clause of UPDATE..FROM / DELETE..USING with a subquery
    source (any other FROM/USING in the statement sits inside parens).
    Returns (kw_start, open_paren_idx) or None."""
    low = sql.lower()
    depth, i, n = 0, 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            i += 1
            while i < n:
                if sql[i] == "'":
                    if i + 1 < n and sql[i + 1] == "'":
                        i += 2
                        continue
                    break
                i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif (
            depth == 0
            and low.startswith(kw, i)
            and (i == 0 or not (sql[i - 1].isalnum() or sql[i - 1] == "_"))
            and not (
                i + len(kw) < n
                and (sql[i + len(kw)].isalnum() or sql[i + len(kw)] == "_")
            )
        ):
            j = i + len(kw)
            while j < n and sql[j].isspace():
                j += 1
            if j < n and sql[j] == "(":
                return i, j
        i += 1
    return None


@functools.lru_cache(maxsize=128)
def _parse_with_dml(sql: str):
    """Return parsed (ctes, tail) iff ``sql`` is a WITH statement with at
    least one data-modifying sub-statement (the PG wCTE form,
    reference txn surface `components/sql/parser`); else None.
    Plain all-SELECT WITHs stay on the spark.sql fast path. Cached —
    handles(), route() and the EXPLAIN path all probe the same text
    (self-review r10), so the balanced-paren scan runs once; the result
    is an immutable tuple."""
    if not _WITH_HEAD.match(sql or ""):
        return None
    # cheap pre-check before the full scan
    if not re.search(
        r"AS\s*(?:(?:NOT\s+)?MATERIALIZED\s*)?\(\s*(?:INSERT|UPDATE|DELETE|MERGE)\b",
        sql, re.IGNORECASE,
    ):
        return None
    parsed = _parse_with_clauses(sql)
    if not parsed:
        return None
    ctes, tail = parsed
    if any(_DML_HEAD.match(body) for _, _, body in ctes):
        return tuple(ctes), tail
    return None


class Catalog:
    """Managed-table catalog for the statement router."""

    def __init__(self, spark: SparkSession, base_dir: str | None = None):
        self.spark = spark
        self.base_dir = base_dir or tempfile.mkdtemp(prefix="otterbrix-tables-")
        self.tables: dict[str, ManagedTable] = {}
        self.matviews: dict[str, "MaterializedView"] = {}
        # schema-on-write ("computing") tables: CREATE TABLE t () — the
        # reference's relkind='g' collections (JSONBench flow)
        self.dynamic: dict[str, "DynamicTable"] = {}
        # sequences (reference operator_sequence.cpp): name -> next value;
        # _seq_last holds the last value handed out (PG: currval before any
        # nextval in the session is an error, not start-1)
        self.sequences: dict[str, int] = {}
        self._seq_last: dict[str, int] = {}
        self._seq_step: dict[str, int] = {}
        self._seq_start: dict[str, int] = {}  # for TRUNCATE RESTART IDENTITY
        # tables created inside the open explicit transaction (reference
        # ddl_inside_explicit_txn_transactional: CREATE TABLE in a txn
        # succeeds, is visible to the txn's own statements, publishes at
        # COMMIT and is DISCARDED on ROLLBACK). The physical directory is
        # created eagerly (self-writes just work); rollback drops it.
        self._txn_created: list[str] = []
        # transactional type/constraint DDL (r13): BEGIN snapshots the
        # metadata dicts ALTER TYPE/DOMAIN and CREATE/DROP TYPE/DOMAIN
        # mutate, so ROLLBACK restores them — PG runs these statements
        # transactionally, and a half-applied label CHECK must not leak
        # past an aborted txn (RENAME VALUE's row rewrites ride the
        # ordinary staged-DML rollback)
        self._txn_meta: "dict | None" = None
        # TRUNCATE ... RESTART IDENTITY inside a txn: the reseed is
        # STAGED (applied at COMMIT, discarded on ROLLBACK) — PG rolls
        # the reseed back with the truncate
        self._txn_reseed: list[str] = []
        # set while the TEMP-TABLE wrapper routes its inner CREATE, so
        # the typed-create FK check can allow temp->temp references
        self._creating_temp: "str | None" = None
        # PG server-side cursors (DECLARE/FETCH/MOVE/CLOSE — the statement
        # face of the reference's chunked cursor contract,
        # components/cursor/cursor.hpp): name -> {"it", "schema",
        # "holdable"}. Rows stream through toLocalIterator — the cursor
        # never collects the whole result on the driver.
        self._pg_cursors: dict[str, dict] = {}
        # registered databases (reference CREATE DATABASE namespaces —
        # dispatcher scopes every collection as database.collection). Spark
        # temp views are single-part, so db.table canonicalizes to db__table
        # at the statement boundary (see canonicalize()).
        self.databases: set[str] = set()
        # user types (reference CREATE TYPE, transformer.cpp:75-80):
        # name -> {"kind": "enum", "labels": [...]} |
        #         {"kind": "composite", "fields": [(name, pg_type), ...]}
        self.types: dict[str, dict] = {}
        # constraints per owning table (reference pg_constraint analogue):
        # {"kind": "check", "name", "expr"} — new/updated rows must satisfy;
        # {"kind": "fk", "name", "child_key", "parent", "parent_key",
        #  "on_delete"} — enforced on child INSERT/UPDATE (anti-join lookup)
        # and parent DELETE (restrict check or cascade)
        self.table_constraints: dict[str, list[dict]] = {}
        # column DEFAULT expressions per table (PG pg_attrdef analogue):
        # {table: {column: expr_text}} — applied when an INSERT omits the
        # column (explicit column list, or a short VALUES row list)
        self.table_defaults: dict[str, dict[str, str]] = {}
        # PG identity columns (ColumnDef identity): every identity column
        # maps to its backing implicit sequence; ALWAYS columns
        # additionally refuse explicit INSERT values without OVERRIDING
        # SYSTEM VALUE
        self.identity_cols: dict[str, dict[str, str]] = {}
        self.identity_always: dict[str, set[str]] = {}
        # PG stored generated columns (ColumnDef generated, PG12
        # tablecmds.c "GENERATED ALWAYS AS ... STORED"): table ->
        # {column: generation expression SQL}. The value is computed
        # from the OTHER columns of the same row at every INSERT/UPDATE
        # (recompute hook on each write path); explicit writes are
        # refused like ALWAYS identity
        self.generated_cols: dict[str, dict[str, str]] = {}
        # COMMENT ON storage (PG pg_description): (relkind, object name,
        # objsubid) -> text; objsubid 0 = the object itself, else the
        # column ordinal (attnum)
        self.comments: dict[tuple[str, str, int], str] = {}
        # persisted SQL functions (reference pg_proc rows,
        # operator_register_udf.cpp): name -> definition, stored beside the
        # tables in _functions.json and replayed on engine start so a second
        # Engine over the same table_dir sees them
        self.functions: dict[str, dict] = {}
        self._replay_functions()
        # active transaction: table name -> staged (uncommitted) frame.
        # None = autocommit. Staged frames are lazy plans over the
        # unchanged on-disk state, so ROLLBACK is free and COMMIT
        # materialises every staged table then swaps them in.
        self._txn: dict[str, DataFrame] | None = None
        # dynamic (schema-on-write) tables stage PENDING BATCHES per txn:
        # name -> list of pinned batch frames, appended to disk only at
        # COMMIT (ADVICE r8: dyn.insert previously wrote through an open
        # transaction, so ROLLBACK could not undo it)
        self._txn_dyn: dict[str, list] | None = None
        # savepoint stack for the active txn: (name, staged-tables
        # snapshot, staged-dynamic-batches snapshot) in creation order
        self._txn_save: list[tuple] = []
        # True only while explain_route() is probing: staged-DML status
        # frames stay LAZY (the probe's plan IS the real write aggregate
        # and must trigger zero jobs) and dynamic-table batches skip the
        # eager pin (a plan-only probe must not execute the source query)
        self._explain_probe = False
        # non-materialized views (CREATE [OR REPLACE] VIEW): name -> body,
        # tracked so pg_class can list relkind='v' rows (the Spark temp
        # view itself is the executable object; this is catalog metadata)
        self.views: dict[str, str] = {}
        # views whose last refresh_views() re-bind failed: name -> error
        # text (the view keeps serving its last good binding; a later
        # successful refresh clears the entry)
        self.stale_views: dict[str, str] = {}
        # every relation name ever live this session — the match set for
        # scoped view refresh (a DROP's target is already gone from the
        # live dicts when the statement boundary runs)
        self._ever_rels: set[str] = set()
        # materialized-view defining SQL (persisted so a reopened engine
        # can rebuild the refresh closure; the lambda is not serializable)
        self.matview_sql: dict[str, str] = {}
        # session-scoped oids for pg_catalog introspection: PG hands out
        # oids at object creation; here first-reference order from the
        # user-object floor (16384), stable for the session
        self._oids: dict[tuple[str, str], int] = {}
        self._oid_next = 16384
        # PG temporary tables: name -> ON COMMIT mode ('preserve' |
        # 'delete'). Temp tables live as ordinary managed tables for the
        # session but are session-scoped: a reopened engine REMOVES their
        # directories instead of rediscovering them (PG cleans orphaned
        # temp tables left by a crashed backend), and ON COMMIT DELETE
        # ROWS truncates at every COMMIT for the table's lifetime.
        # ON COMMIT DROP never enters this dict across a commit: the
        # table dies with its creating transaction (_txn_temp_drop).
        self.temp_tables: dict[str, str] = {}
        self._txn_temp_drop: list[str] = []
        # PG domains: which tables have columns declared with which
        # domain (table -> {domain: [columns]}) — the dependency DROP
        # DOMAIN checks (PG pg_depend for CoerceToDomain columns) and
        # the instantiation map ALTER DOMAIN propagates through
        self.domain_uses: dict[str, dict] = {}
        # same dependency map for top-level enum columns — what DROP
        # TYPE refuses over and ALTER TYPE ADD/RENAME VALUE propagates
        # through (composite/nested uses are not tracked; their DROP
        # keeps the historical leave-columns-as-structs behavior)
        self.enum_uses: dict[str, dict] = {}
        # reopen discovery LAST: every dict it fills must already exist
        self._restore_catalog()
        # seed the scoped-refresh match set from the restored catalog: a
        # DROP issued as the FIRST statement of a reopened engine must
        # still trigger dependent-view re-binds (self-review r11 — the
        # target is gone from the live dicts by boundary time)
        self._ever_rels |= (
            set(self.tables) | set(self.dynamic)
            | set(self.matviews) | set(self.views)
        )

    def _register(self, table: ManagedTable) -> None:
        self.tables[table.name] = table
        table.df().createOrReplaceTempView(table.name)

    # -- catalog persistence (reference test_persistence.cpp: a reopened
    # -- engine over the same directory sees tables, constraints,
    # -- sequences, types and views; data persistence is the parquet
    # -- dirs themselves) -----------------------------------------------
    def _catalog_path(self) -> str:
        return os.path.join(self.base_dir, "_catalog.json")

    def persist_catalog_state(self) -> None:
        """Write the driver-side catalog dicts beside the tables
        (atomic replace). Called at the engine statement boundary after
        every routed statement — the dicts are tiny, the write is ~ms,
        and every DDL/sequence mutation is covered without per-site
        bookkeeping. Plain-EXPLAIN probes never persist."""
        if self._explain_probe:
            return
        import json

        state = {
            "constraints": self.table_constraints,
            "defaults": self.table_defaults,
            "partitioning": {
                n: {"cols": t.partition_cols, "schema": t.schema_ddl}
                for n, t in self.tables.items() if t.partition_cols
            },
            "identity": {
                "cols": self.identity_cols,
                "always": {
                    t: sorted(s) for t, s in self.identity_always.items()
                },
            },
            "comments": [
                [k, n, s, t] for (k, n, s), t in sorted(self.comments.items())
            ],
            "sequences": self.sequences,
            "seq_last": self._seq_last,
            "seq_step": self._seq_step,
            "seq_start": self._seq_start,
            "types": self.types,
            "databases": sorted(self.databases),
            "views": list(self.views.items()),
            "matviews": self.matview_sql,
            # recorded so a REOPENED engine knows which directories are
            # session-scoped leftovers to remove, never to rediscover
            "temp_tables": self.temp_tables,
            "domain_uses": self.domain_uses,
            "enum_uses": self.enum_uses,
            "generated": self.generated_cols,
        }
        tmp = self._catalog_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(state, fh, indent=1)
        os.replace(tmp, self._catalog_path())
        # the txn that created pending DDL has ended (persistence is
        # deferred while one is open) — the recovery marker is obsolete
        if self._txn is None and os.path.exists(self._txn_pending_path()):
            os.remove(self._txn_pending_path())

    def refresh_views(self, statement: str | None = None) -> None:
        """Re-register plain (non-materialized) views from their stored
        SQL — PG views are LATE-binding (each reference sees the tables'
        current state), while a Spark temp view freezes the file listing
        at analysis time. Called at the statement boundary after every
        routed statement, in creation order (a view may reference earlier
        views); inside a transaction this also gives read-your-writes
        THROUGH views.

        ``statement`` scopes the refresh (ADVICE r10: re-analysing every
        view per DML is O(#views) driver work): only views whose
        dependency closure intersects the relations named in the
        statement re-bind; refreshed views propagate (a later view over a
        refreshed view re-binds too). ``None`` refreshes everything
        (engine start, COMMIT/ROLLBACK where staged bindings die).

        A view whose dependency vanished keeps its last good binding (PG
        would have refused the DROP); the failure is recorded in
        ``self.stale_views`` instead of vanishing silently, and a
        successful later refresh clears the entry."""
        items = self.views.items()
        if statement is not None:
            # include names that WERE relations earlier in the session: a
            # DROP already removed its target from the live dicts by the
            # time this boundary runs, yet views over it must re-bind
            # (fail -> tracked) — matching on live names alone would miss
            self._ever_rels |= (
                set(self.tables) | set(self.dynamic)
                | set(self.matviews) | set(self.views)
            )
            words = set(re.findall(r"[A-Za-z_][\w.]*", statement.lower()))
            touched = {r for r in self._ever_rels if r.lower() in words}
            if not touched:
                return
            # closure to FIXPOINT: CREATE OR REPLACE keeps a view's dict
            # position, so a single ordered pass can miss a view whose
            # dependency sits LATER in the dict (self-review r11)
            affected: dict[str, str] = {}
            grew = True
            while grew:
                grew = False
                for name, body in self.views.items():
                    if name in affected:
                        continue
                    deps = set(
                        re.findall(r"[A-Za-z_][\w.]*", body.lower())
                    )
                    if any(r.lower() in deps for r in touched):
                        affected[name] = body
                        touched.add(name)
                        grew = True
            items = affected.items()
        # refresh dependencies FIRST: a view re-bound before the view it
        # reads would capture the stale plan (same CREATE OR REPLACE
        # ordering hazard). Views cannot truly cycle in PG; if the
        # postpone loop stalls (pathological mutual reference), fall
        # back to dict order for the remainder.
        pending = dict(items)
        ordered: list[tuple[str, str]] = []
        while pending:
            progressed = False
            for name in [n for n in self.views if n in pending]:
                deps = set(
                    re.findall(r"[A-Za-z_][\w.]*", pending[name].lower())
                )
                if any(o != name and o.lower() in deps for o in pending):
                    continue
                ordered.append((name, pending.pop(name)))
                progressed = True
            if not progressed:
                ordered.extend(pending.items())
                pending = {}
        for name, body in ordered:
            try:
                self.spark.sql(body).createOrReplaceTempView(name)
            except Exception as exc:  # noqa: BLE001 — tracked, not silent
                self.stale_views[name] = str(exc)
            else:
                self.stale_views.pop(name, None)

    def _restore_catalog(self) -> None:
        """Rediscover persisted state on engine start: managed tables
        (plain parquet dirs), dynamic tables (dyn__*), materialized
        views (mv__* + stored SQL), and the metadata dicts from
        _catalog.json. Registration order: tables first, then plain
        views in creation order (a view may reference tables or earlier
        views)."""
        import json

        if not os.path.isdir(self.base_dir):
            return
        if os.path.exists(self._txn_pending_path()):
            # a previous engine crashed with an open transaction that had
            # created tables (their parquet dirs were written eagerly but
            # the deferred _catalog.json never recorded their metadata):
            # roll the unfinished DDL back instead of rediscovering
            # unconstrained tables (self-review r11)
            import json as _json
            import shutil

            with open(self._txn_pending_path()) as fh:
                pending = _json.load(fh)
            for pname in pending:
                base = pname.replace(".", "__")
                for d in (base, "dyn__" + base):
                    p = os.path.join(self.base_dir, d)
                    if os.path.isdir(p):
                        shutil.rmtree(p, ignore_errors=True)
            os.remove(self._txn_pending_path())
        meta: dict = {}
        if os.path.exists(self._catalog_path()):
            with open(self._catalog_path()) as fh:
                meta = json.load(fh)
        partmeta = meta.get("partitioning", {})
        # temp tables are session-scoped: a reopened engine REMOVES the
        # previous session's leftover directories instead of
        # rediscovering them (PG cleans orphaned temp tables left by a
        # crashed backend), and purges their catalog metadata
        stale_temp = set(meta.get("temp_tables", {}))
        if stale_temp:
            import shutil

            for tname in stale_temp:
                base = tname.replace(".", "__")
                for d in (base, "dyn__" + base):
                    p = os.path.join(self.base_dir, d)
                    if os.path.isdir(p):
                        shutil.rmtree(p, ignore_errors=True)
        for entry in sorted(os.listdir(self.base_dir)):
            p = os.path.join(self.base_dir, entry)
            if not os.path.isdir(p) or entry.startswith((".", "mv__")):
                continue
            if entry.startswith("dyn__"):
                from otterbrix_spark.sources.dynamic import DynamicTable

                name = entry[len("dyn__"):]
                dyn = DynamicTable(self.spark, p)
                self.dynamic[name] = dyn
                dyn.df().createOrReplaceTempView(name)
                continue
            pm = partmeta.get(entry)
            if pm:
                # a partitioned table keeps its data under col=value/
                # subdirs (no top-level parquet files — possibly NONE
                # when empty), so the persisted metadata is the source
                # of truth for both layout and schema
                self._register(ManagedTable(
                    self.spark, p, entry,
                    partition_cols=pm.get("cols"),
                    schema_ddl=pm.get("schema"),
                ))
                continue
            t = ManagedTable(self.spark, p, entry)
            if t.exists():
                self._register(t)
        if not meta:
            return
        self.table_constraints = meta.get("constraints", {})
        self.table_defaults = meta.get("defaults", {})
        for tname in stale_temp:
            self.table_constraints.pop(tname, None)
            self.table_defaults.pop(tname, None)

        ident = meta.get("identity", {})
        self.identity_cols = ident.get("cols", {})
        self.identity_always = {
            t: set(v) for t, v in ident.get("always", {}).items()
        }
        for tname in stale_temp:
            self.identity_cols.pop(tname, None)
            self.identity_always.pop(tname, None)
        self.comments = {
            (k, n, s): t for k, n, s, t in meta.get("comments", [])
            if n not in stale_temp
        }
        self.sequences = meta.get("sequences", {})
        self._seq_last = meta.get("seq_last", {})
        self._seq_step = meta.get("seq_step", {})
        self._seq_start = meta.get("seq_start", {})
        self.types = meta.get("types", {})
        self.domain_uses = {
            t: v for t, v in meta.get("domain_uses", {}).items()
            if t not in stale_temp
        }
        self.enum_uses = {
            t: v for t, v in meta.get("enum_uses", {}).items()
            if t not in stale_temp
        }
        self.generated_cols = {
            t: v for t, v in meta.get("generated", {}).items()
            if t not in stale_temp
        }
        self.databases = set(meta.get("databases", []))
        # matviews BEFORE plain views (a view may read a matview), and
        # every registration is fault-tolerant: a view whose dependency
        # is unresolvable right now (corpus tables not yet registered,
        # dependency dropped) must not make the engine unconstructible —
        # the body stays in the dict, so refresh_views() heals it at the
        # first statement boundary after the dependency appears
        for name, body in meta.get("matviews", {}).items():
            path = os.path.join(
                self.base_dir, "mv__" + name.replace(".", "__")
            )
            mv = MaterializedView(
                self.spark, path, lambda b=body: self.spark.sql(b)
            )
            self.matviews[name] = mv
            self.matview_sql[name] = body
            try:
                mv.df().createOrReplaceTempView(name)
            except Exception:
                pass
        for name, body in meta.get("views", []):
            self.views[name] = body
            try:
                self.spark.sql(body).createOrReplaceTempView(name)
            except Exception:
                pass

    def _note_created(self, name: str) -> None:
        """Record a table created inside the open explicit transaction so
        ROLLBACK can discard it (transactional DDL, reference
        ddl_inside_explicit_txn_transactional). The names also persist to
        a pending-DDL marker: the parquet directory is written eagerly,
        so a crash before COMMIT would otherwise leave the table
        REDISCOVERABLE but with its constraints/defaults missing from the
        (txn-deferred) _catalog.json — present-but-unconstrained is worse
        than leaked-but-consistent. A reopened engine reads the marker
        and rolls the unfinished DDL back (self-review r11; single-engine
        crash recovery, the reference's WAL-replay analogue)."""
        if self._txn is not None:
            self._txn_created.append(name)
            self._persist_txn_pending()

    def _txn_pending_path(self) -> str:
        return os.path.join(self.base_dir, "_txn_pending.json")

    def _persist_txn_pending(self) -> None:
        import json

        tmp = self._txn_pending_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self._txn_created, fh)
        os.replace(tmp, self._txn_pending_path())

    def _drop_created(self, names: list[str]) -> None:
        """Discard tables created after a ROLLBACK boundary (reverse
        creation order, tolerating tables already dropped in-txn)."""
        import shutil

        for name in reversed(names):
            if name in self.tables:
                self.tables.pop(name).drop()
                self.spark.catalog.dropTempView(name)
                self._drop_table_metadata(name)
            elif name in self.dynamic:
                shutil.rmtree(
                    self.dynamic.pop(name).path, ignore_errors=True
                )
                self.spark.catalog.dropTempView(name)
                self._drop_table_metadata(name, kinds=("g",))

    def _rewrite_enum_checks(self, tname: str) -> None:
        """Regenerate every dependent column's `{col}_enum` label CHECK
        from the enum's CURRENT labels — the propagation step ALTER TYPE
        ADD/RENAME VALUE shares."""
        labels = self.types[tname]["labels"]
        for t, per in self.enum_uses.items():
            for col in per.get(tname, []):
                fresh = _enum_check_con(col, labels)
                self.table_constraints[t] = [
                    fresh if c["name"] == fresh["name"] else c
                    for c in self.table_constraints.get(t, [])
                ]

    def _snapshot_type_meta(self) -> dict:
        """Deep-copy the metadata dicts transactional type DDL mutates
        (ALTER TYPE/DOMAIN, CREATE/DROP TYPE/DOMAIN, ADD/DROP CONSTRAINT,
        SET/DROP DEFAULT). Small dicts — the copy is cheap and makes
        ROLLBACK restoration exact."""
        import copy

        return copy.deepcopy({
            "types": self.types,
            "table_constraints": self.table_constraints,
            "table_defaults": self.table_defaults,
            "enum_uses": self.enum_uses,
            "domain_uses": self.domain_uses,
            "generated_cols": self.generated_cols,
        })

    def _restore_type_meta(self, snap: dict) -> None:
        self.types = snap["types"]
        self.table_constraints = snap["table_constraints"]
        self.table_defaults = snap["table_defaults"]
        self.enum_uses = snap["enum_uses"]
        self.domain_uses = snap["domain_uses"]
        self.generated_cols = snap["generated_cols"]

    def _refuse_txn_column_ddl(self, what: str) -> None:
        """Physical column DDL (ADD/DROP/RENAME COLUMN, ALTER TYPE)
        swaps parquet files immediately — it cannot participate in the
        staged-frame transaction model, and the BEGIN-time metadata
        snapshot would resurrect metadata for a physically-applied
        change on ROLLBACK (self-review r13). Same refusal stance as
        ALTER TABLE RENAME TO; the transactional path is the
        table-format (Delta) seam."""
        if self._txn is not None:
            raise ValueError(
                f"{what} inside a transaction is not supported "
                "(plain-parquet column rewrite is not transactional)"
            )

    def _recompute_generated(self, name: str, rows: "DataFrame") -> "DataFrame":
        """Recompute every stored generated column of ``name`` from the
        row's other columns (PG ExecComputeStoredGenerated). Applied to
        the final frame on each write path; the projection is idempotent
        for rows whose inputs did not change, so a whole-frame recompute
        after UPDATE is exact — and it is ONE narrow select, no shuffle,
        at any scale."""
        gen = self.generated_cols.get(name, {})
        if not gen or not set(gen) & set(rows.columns):
            return rows
        # cast to the TABLE's declared type, not the incoming frame's —
        # a folded DEFAULT keyword arrives as a VOID-typed NULL column
        tbl = self.tables.get(name)
        declared = {
            f.name: f.dataType
            for f in (tbl.df() if tbl is not None else rows).schema.fields
        }
        return rows.select(*[
            F.expr(gen[f.name]).cast(declared[f.name]).alias(f.name)
            if f.name in gen else F.col(f.name)
            for f in rows.schema.fields
        ])

    def rewrite_domain_casts(self, body: str) -> str:
        """PG ``CoerceToDomain`` for expression casts (x33): ``expr::dom``
        lowers to the base-type CAST guarded by the domain's CHECK /
        NOT NULL constraints — a violating value raises through Spark's
        ``raise_error`` exactly where PG raises "value for domain ...
        violates check constraint". Domains used as column types already
        instantiate their constraints at CREATE TABLE; this closes the
        expression-position divergence documented at the CREATE DOMAIN
        comment (reference parity: PG primnodes CoerceToDomain)."""
        doms = {
            n: t for n, t in self.types.items() if t.get("kind") == "domain"
        }
        if not doms or "::" not in body:
            return body
        names = "|".join(re.escape(n) for n in doms)
        if not re.search(rf"::\s*(?:{names})\b", body, re.IGNORECASE):
            return body
        from otterbrix_spark.dialect_ast import rewrite_casts

        def lower_cast(lhs: str, type_text: str) -> str | None:
            d = type_text.lower()
            t = doms.get(d)
            if t is None:
                return None
            base = _pg_type_to_ddl(t["base"], self.types)
            cast = f"CAST({lhs} AS {base})"
            conds = [
                f"({cast} IS NULL OR ({_subst_ident(chk['expr'], 'VALUE', cast)}))"
                for chk in t["checks"]
            ]
            if t["not_null"]:
                conds.append(f"({cast} IS NOT NULL)")
            if not conds:
                return cast
            msg = f"value for domain {d} violates a domain constraint"
            return (
                f"(CASE WHEN {' AND '.join(conds)} THEN {cast} "
                f"ELSE CAST(raise_error('{msg}') AS {base}) END)"
            )

        return rewrite_casts(body, lower_cast)

    def implicit_commit_temp_sweep(self, statement: str) -> None:
        """PG autocommit parity for ON COMMIT DELETE ROWS (ADVICE r12):
        outside a transaction block every statement is its own
        transaction, so rows written to a delete-rows temp table vanish
        at the statement's implicit commit. The engine fires this at the
        statement boundary when no explicit transaction is open; only
        DML statements that name a delete-mode temp table pay the
        truncate."""
        if self._txn is not None:
            return
        if not re.match(
            r"^\s*(INSERT|UPDATE|DELETE|MERGE|COPY)\b", statement,
            re.IGNORECASE,
        ):
            return
        for name, mode in list(self.temp_tables.items()):
            if mode != "delete" or not re.search(
                rf"\b{re.escape(name)}\b", statement, re.IGNORECASE
            ):
                continue
            if name in self.tables:
                self.route(f"TRUNCATE {name}")
            elif name in self.dynamic:
                self.route(f"DELETE FROM {name}")

    def _column_gone(self, tname: str, col: str, new: str | None) -> None:
        """Per-column metadata upkeep for ALTER TABLE DROP/RENAME COLUMN
        (ADVICE r12): remove (or rename) the column in every
        enum_uses/domain_uses entry — a stale entry wrongly blocks DROP
        TYPE/DOMAIN and makes ALTER DOMAIN ADD CONSTRAINT instantiate on
        a missing column, which aborts the statement for ALL dependents.
        Instantiated `{col}_*` checks drop with the column (PG drops
        column-dependent constraints); on rename they re-anchor to the
        new name, expr rewritten literal-safely."""
        for uses in (self.enum_uses, self.domain_uses):
            per = uses.get(tname)
            if not per:
                continue
            for typ in list(per):
                cols = per[typ]
                if col in cols:
                    per[typ] = [
                        (new if c == col else c) for c in cols
                        if new is not None or c != col
                    ]
                    if not per[typ]:
                        del per[typ]
            if not per:
                del uses[tname]
        cons = self.table_constraints.get(tname)
        if cons:
            # ownership by LONGEST column-name prefix: dropping column
            # "a" must not clobber column "a_b"'s instantiated
            # "a_b_*" checks (self-review r13)
            try:
                current = list(self.tables[tname].df().columns)
            except Exception:
                current = []
            others = [c2 for c2 in current if c2 not in (col, new)]

            def _owned(cname: str) -> bool:
                return cname.startswith(f"{col}_") and not any(
                    cname.startswith(f"{o}_") and len(o) > len(col)
                    for o in others
                )

            kept = []
            for c in cons:
                if not _owned(c.get("name", "")):
                    kept.append(c)
                elif new is not None:
                    c = dict(c)
                    c["name"] = new + c["name"][len(col):]
                    if c.get("expr"):
                        c["expr"] = _subst_ident(c["expr"], col, new)
                    kept.append(c)
            self.table_constraints[tname] = kept
        dflts = self.table_defaults.get(tname)
        if dflts and col in dflts:
            if new is not None:
                dflts[new] = dflts.pop(col)
            else:
                del dflts[col]
        gen = self.generated_cols.get(tname)
        if gen:
            if col in gen:
                if new is not None:
                    gen[new] = gen.pop(col)
                else:
                    del gen[col]
            if new is not None:
                # a renamed column referenced by a generation expression
                # re-anchors in the stored text (PG rewrites the parsed
                # tree; _subst_ident is literal-safe)
                for gcol, gexpr in list(gen.items()):
                    gen[gcol] = _subst_ident(gexpr, col, new)
            if not gen:
                del self.generated_cols[tname]

    def _drop_table_metadata(
        self, name: str, kinds: tuple = ("r", "g")
    ) -> None:
        """Metadata teardown shared by DROP TABLE and transactional-DDL
        rollback: constraints, defaults, FK re-pointing, identity
        ownership and kind-matched comments. Identity backing sequences
        die with the table (PG's owned-by dependency) — UNLESS another
        live table still references the sequence name (a rename or an
        explicit DEFAULT nextval elsewhere can share it; self-review r11
        loop 3), and their own comments die with them."""
        self.table_constraints.pop(name, None)
        self.table_defaults.pop(name, None)
        self.temp_tables.pop(name, None)
        self.domain_uses.pop(name, None)
        self.enum_uses.pop(name, None)
        self.generated_cols.pop(name, None)
        owned = self.identity_cols.pop(name, {})
        self.identity_always.pop(name, None)
        still_used = {
            s for m in self.identity_cols.values() for s in m.values()
        }
        for d in self.table_defaults.values():
            for expr in d.values():
                for mm in re.finditer(
                    r"\bnextval\s*\(\s*'([\w.]+)'\s*\)", expr, re.IGNORECASE
                ):
                    still_used.add(mm.group(1).replace(".", "__"))
        for seq in owned.values():
            if seq in still_used:
                continue
            self.sequences.pop(seq, None)
            self._seq_step.pop(seq, None)
            self._seq_start.pop(seq, None)
            self._seq_last.pop(seq, None)
            self.comments.pop(("S", seq, 0), None)
        # comments die with the object (PG) — a re-created table of the
        # same name must not resurrect them via the session oid.
        # Kind-matched: a same-named sequence or view keeps its comment
        self.comments = {
            k: t for k, t in self.comments.items()
            if not (k[1] == name and k[0] in kinds)
        }
        # drop FK constraints in other tables that referenced this one
        for child, cons in self.table_constraints.items():
            self.table_constraints[child] = [
                c for c in cons
                if not (c["kind"] == "fk" and c["parent"] == name)
            ]

    @staticmethod
    def _match_protected(rx: "re.Pattern", sql: str):
        """Match a DML regex over STRING-PROTECTED text and return the
        restored groups (or None). Keywords like RETURNING / WHERE / SET
        inside a string literal must never act as clause boundaries —
        matching on the protected form (literals replaced by opaque
        tokens) makes that structural, and restoring each captured group
        independently hands the handlers byte-identical clause text."""
        from otterbrix_spark.dialect import _protect_strings, _restore_strings

        body, lits = _protect_strings(sql)
        m = rx.match(body)
        if m is None:
            return None
        return tuple(
            _restore_strings(g, lits) if isinstance(g, str) else g
            for g in m.groups()
        )

    @staticmethod
    def _release_staged(frame) -> None:
        """Free the block-manager storage behind a localCheckpoint()ed
        staged batch that will never be read again (ROLLBACK, a discarded
        EXPLAIN probe, or a batch already appended to disk by COMMIT).
        Best-effort over Spark internals: a checkpointed Dataset's analyzed
        plan is a LogicalRDD holding the persisted RDD. Harmless no-op for
        non-checkpointed (lazy) frames, where the plan is not a LogicalRDD."""
        try:
            frame._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:
            pass

    @staticmethod
    def _apply_returning(df: DataFrame, returning) -> DataFrame:
        """Project a RETURNING clause over the affected rows. PG accepts
        any select list there (``RETURNING id, salary * 2 AS doubled``),
        not just ``*`` — expressions resolve against the affected rows'
        post-change values, which is what the matched frames hold."""
        text = returning.strip() if isinstance(returning, str) else ""
        if not text or text == "*":
            return df
        return df.selectExpr(
            *[e.strip() for e in _split_top_level(text) if e.strip()]
        )

    def _status(self, **counts: int) -> DataFrame:
        """A write's one-row status frame (``updated``, ``deleted``, ...)
        as a local relation, so fetching it runs no Spark job. Columns are
        INT, or BIGINT past the INT range, as ``F.lit`` types them."""
        cols = ", ".join(f"`{c}`" for c in counts)
        vals = ", ".join(str(int(n)) for n in counts.values())
        return self.spark.sql(f"VALUES ({vals}) AS t({cols})")

    def _empty_status(self, **label: str) -> DataFrame:
        """A statement's zero-row status frame (``txn``, ``created``, ...):
        one non-null STRING column, as ``F.lit`` types it. ``LIMIT 0``
        plans to an empty local relation, so fetching it runs no job."""
        ((col, value),) = label.items()
        return self.spark.sql(f"SELECT :v AS `{col}` LIMIT 0", args={"v": value})

    def _stage_txn(
        self,
        name: str,
        new_df: DataFrame,
        matched: DataFrame,
        verb: str,
        returning,
        n: int | None = None,
    ) -> DataFrame:
        """Record a staged frame for ``name`` inside the active transaction
        and re-register the temp view so in-transaction reads see the
        uncommitted state (read-your-writes). ``n`` is the affected-row
        count when the caller already took it."""
        self._txn[name] = new_df
        new_df.createOrReplaceTempView(name)
        if returning:
            result = self._apply_returning(matched, returning)
            if self._explain_probe:
                return result  # plan-only probe: stay lazy, zero jobs
            # pin the RETURNING rows NOW: they are a lazy plan over the
            # pre-commit parquet files, which COMMIT's directory swap
            # deletes — collecting the cursor after COMMIT would hit
            # missing files (ADVICE r8, same hazard as the status count)
            return pin(result)
        if self._explain_probe:
            # plan-only probe (explain_route): the status frame's plan IS
            # the real matched-rows aggregate (scan+filter+agg), and no
            # job runs at statement time
            return matched.agg(F.count(F.lit(1)).alias(verb))
        # normal txn path: count EAGERLY — a lazy count would pin the
        # pre-commit parquet files that COMMIT's commit_staged() deletes,
        # so collecting the status cursor after COMMIT threw
        # FileNotFoundException (ADVICE r8 medium). matched is an
        # immutable captured plan, so counting now equals counting later.
        if n is None:
            seen = Observed(matched, n=F.count(F.lit(1)))
            n = count_pass(seen.df, seen)["n"]
        return self._status(**{verb: n})

    def _insert_on_conflict(
        self, name: str, body: str, key_csv: str, con_name, action: str,
        upd_where, returning,
    ) -> DataFrame:
        """PG upsert: INSERT ... ON CONFLICT (keys) DO NOTHING | DO UPDATE
        SET col = expr[, ...] [WHERE cond]. ``EXCLUDED.col`` in SET and
        WHERE expressions refers to the proposed incoming row, as in PG;
        a conflicting row failing the WHERE is neither updated nor
        inserted (the old row stays). Distributed shape: the merge is
        two hash joins on the arbiter key (anti for survivors, inner for
        matches) plus a union — never a per-row loop; at scale this is the
        standard shuffle-merge an upsert-capable lakehouse write performs.
        RETURNING * yields the affected rows (inserted + updated, never the
        DO NOTHING skips or WHERE-failed conflicts), matching PG."""
        from otterbrix_spark.operators.dml import ConstraintViolation

        # a non-greedy SET slice may have split inside a subquery's WHERE
        # (same hazard as _UPDATE_FROM): unbalanced parens mean the
        # captured WHERE belongs to the SET expression — fold it back.
        # Count parens on literal-stripped text: a paren INSIDE a string
        # ('a(b') must not trigger the fold (self-review r10 batch 3)
        if upd_where is not None:
            bare = re.sub(r"'(?:[^']|'')*'", "''", action)
            if bare.count("(") != bare.count(")"):
                action = f"{action} WHERE {upd_where}"
                upd_where = None

        table = self.tables[name]
        uniques = [
            c for c in self.table_constraints.get(name, ())
            if c["kind"] == "unique"
        ]
        if con_name is not None:
            # ON CONFLICT ON CONSTRAINT name — the named-arbiter form
            match_c = next(
                (c for c in uniques if c.get("name") == con_name), None
            )
            if match_c is None:
                raise ValueError(
                    f'constraint "{con_name}" for table {name} does not '
                    "exist (ON CONFLICT ON CONSTRAINT needs a UNIQUE/PK "
                    "constraint)"
                )
            keys = list(match_c["cols"])
        elif key_csv is None:
            # bare ON CONFLICT — legal for DO NOTHING only (PG: skips
            # rows conflicting with ANY unique constraint)
            if action.upper() != "NOTHING":
                raise ValueError(
                    "ON CONFLICT DO UPDATE requires inference "
                    "specification or constraint name"
                )
            if not uniques:
                raise ValueError(
                    f"{name} has no unique constraints for ON CONFLICT"
                )
            keys = list(uniques[0]["cols"])  # primary path below; the
            # remaining constraints anti-join in the NOTHING branch
        else:
            keys = [k.strip() for k in key_csv.split(",")]
            if set(keys) not in [set(c["cols"]) for c in uniques]:
                raise ValueError(
                    f"ON CONFLICT ({key_csv}): no PRIMARY KEY or UNIQUE "
                    f"constraint on {name} matches the arbiter columns "
                    "(PG requires an arbiter index)"
                )
        base = (
            self._txn.get(name, table.df())
            if self._txn is not None
            else table.df()
        )
        # incoming rows: same body forms as plain INSERT (column list +
        # VALUES/SELECT, positional alignment to the table schema)
        body = body.strip()
        cols = None
        mcols = re.match(
            r"^\(\s*(\w+(?:\s*,\s*\w+)*)\s*\)\s*(.+)$", body, re.DOTALL
        )
        if mcols:
            cols = [c.strip() for c in mcols.group(1).split(",")]
            body = mcols.group(2).strip()
        # PG OVERRIDING clause + GENERATED ALWAYS identity guard — same
        # semantics as the plain-INSERT path (ADVICE r12: the upsert path
        # previously accepted explicit values into ALWAYS identity columns
        # and let OVERRIDING fall through to a raw Spark parse error)
        overriding = None
        mov = re.match(
            r"^OVERRIDING\s+(SYSTEM|USER)\s+VALUE\s+(.+)$",
            body, re.IGNORECASE | re.DOTALL,
        )
        if mov:
            overriding = mov.group(1).upper()
            body = mov.group(2).strip()
        idc_all = set(self.identity_cols.get(name, {}))
        gen_all = set(self.generated_cols.get(name, {}))
        target_cols = cols if cols is not None else list(base.columns)
        if gen_all and cols is not None and gen_all & set(cols):
            # same refusal as plain INSERT: generated columns have no
            # INSERT slot (DEFAULT keyword only)
            if body.upper().startswith("VALUES"):
                badg = _values_explicit_identity(
                    body, cols, gen_all & set(cols)
                )
            else:
                badg = sorted(gen_all & set(cols))
            if badg:
                raise ValueError(
                    f'cannot insert a non-DEFAULT value into column '
                    f'"{badg[0]}" ("{badg[0]}" is a generated column)'
                )
        user_handled = False
        if (
            overriding == "USER" and idc_all
            and body.upper().startswith("VALUES")
        ):
            # rewrite identity positions to DEFAULT before folding, so the
            # sequence is consumed exactly once per row
            body = _values_set_default(body, target_cols, idc_all)
            user_handled = True
        ids = self.identity_always.get(name, set())
        if ids and overriding is None:
            if body.upper().startswith("VALUES"):
                bad = _values_explicit_identity(body, target_cols, ids)
            else:  # SELECT source: every covered column is explicit
                bad = sorted(ids & set(target_cols))
            if bad:
                raise ValueError(
                    f'cannot insert a non-DEFAULT value into '
                    f'column "{bad[0]}" (GENERATED ALWAYS AS '
                    f"IDENTITY); use OVERRIDING SYSTEM VALUE"
                )
        auto_skip_gen = gen_all and cols is None
        if auto_skip_gen:
            # positional sources target the non-generated columns only
            # (PG; arity-trimmed after the frame is built below)
            cols = [c for c in base.columns if c not in gen_all]
        if body.upper().startswith("VALUES"):
            # fold DEFAULT keywords (incl. those written by the USER
            # rewrite above) into declared defaults, consuming sequences
            body = self._fold_values_defaults(name, body, cols)
            rows = _values_frame(self.spark, body)
        else:
            rows = self.spark.sql(body)
        if auto_skip_gen and len(rows.columns) < len(cols):
            cols = cols[: len(rows.columns)]
        if overriding == "USER" and idc_all and not user_handled:
            # SELECT source: discard supplied identity values (PG) — the
            # defaults refill below regenerates them from the sequence
            if cols is None:
                cols = list(base.columns[: len(rows.columns)])
            rows = rows.toDF(*cols)
            keep = [c for c in cols if c not in idc_all]
            if keep != cols:
                rows = rows.select(*keep)
                cols = keep
        if cols:
            rows = rows.toDF(*cols)
            dfl = self.table_defaults.get(name, {})
            n_cache: dict = {}
            rows = rows.select(
                *[
                    F.col(f.name)
                    if f.name in cols
                    else (
                        self._default_expr(dfl[f.name], rows, n_cache)
                        if f.name in dfl
                        else F.lit(None)
                    ).cast(sql_type(f.dataType)).alias(f.name)
                    for f in base.schema.fields
                ]
            )
        rows = rows.toDF(*base.columns).select(
            *[
                F.col(f.name).cast(sql_type(f.dataType)).alias(f.name)
                for f in base.schema.fields
            ]
        )
        rows = self._recompute_generated(name, rows)
        non_keys = [c for c in base.columns if c not in keys]
        if action.upper() == "NOTHING":
            if upd_where is not None:
                raise ValueError(
                    "ON CONFLICT DO NOTHING takes no WHERE clause"
                )
            # bare ON CONFLICT DO NOTHING skips rows conflicting with ANY
            # unique constraint; targeted forms use the single arbiter.
            # Order of operations matters (self-review r10 batch 3): rows
            # conflicting with BASE are removed FIRST on every key set —
            # a base-skipped row never blocks a later batch row (PG: a
            # skipped row is not inserted, so it cannot cause conflicts).
            # Then within-batch first-wins dedup runs per key set over
            # ONE stable tag (assigned before any shuffle, preserving
            # VALUES order). Residual documented deviation: a row blocked
            # only by an earlier row that was ITSELF batch-blocked is
            # dropped here where PG's strictly sequential scan accepts it.
            key_sets = (
                [list(c["cols"]) for c in uniques]
                if key_csv is None and con_name is None
                else [keys]
            )
            fresh = rows.withColumn(
                "__mid", F.monotonically_increasing_id()
            )
            for ks in key_sets:
                fresh = fresh.join(base.select(*ks), ks, "left_anti")
            for ks in key_sets:
                nk = [c for c in base.columns if c not in ks]
                fresh = (
                    fresh.groupBy(*ks)
                    .agg(F.min(F.struct("__mid", *nk)).alias("__s"))
                    .select(
                        *ks,
                        *[F.col(f"__s.{c}").alias(c) for c in nk],
                        F.col("__s.__mid").alias("__mid"),
                    )
                )
            affected = fresh.select(*base.columns)
            before, after = base, None
        else:
            dup = rows.groupBy(*keys).count().filter(F.col("count") > 1)
            if dup.count() > 0:
                raise ConstraintViolation(
                    "ON CONFLICT DO UPDATE command cannot affect row a "
                    "second time (duplicate arbiter keys in one INSERT)"
                )
            set_clause = re.sub(
                r"^UPDATE\s+SET\s+", "", action, flags=re.IGNORECASE | re.DOTALL
            )
            # EXCLUDED.col -> the proposed row's column (joined alongside);
            # <table>.col -> the existing row's column (PG lets SET exprs
            # qualify the target table by name)
            def _rewrite(expr: str) -> str:
                expr = re.sub(
                    r"\bEXCLUDED\s*\.\s*(\w+)", r"__excl_\1", expr,
                    flags=re.IGNORECASE,
                )
                return re.sub(
                    rf"\b{re.escape(name)}\s*\.\s*(\w+)", r"\1", expr,
                    flags=re.IGNORECASE,
                )

            set_texts = {
                col: _rewrite(expr)
                for col, expr in _split_set_list(set_clause).items()
            }
            # PG permits SET gencol = DEFAULT (a no-op after the
            # recompute below); any other expression is refused
            badg = sorted(
                c for c in gen_all & set(set_texts)
                if set_texts[c].strip().upper() != "DEFAULT"
            )
            if badg:
                raise ValueError(
                    f'column "{badg[0]}" can only be updated to DEFAULT '
                    f'("{badg[0]}" is a generated column)'
                )
            set_texts = {
                c: e for c, e in set_texts.items() if c not in gen_all
            }
            sets = _resolve_set_targets(set_texts)
            excl = rows.select(
                *keys, *[F.col(c).alias(f"__excl_{c}") for c in non_keys]
            )
            joined = base.join(excl, keys)
            if upd_where is not None:
                # DO UPDATE ... WHERE: only conflicting rows satisfying
                # the condition update; the rest keep their OLD values
                # (three-valued: a NULL condition keeps the row, as in
                # every PG row filter)
                cond = F.expr(_rewrite(upd_where))
                kept = joined.filter(
                    ~F.coalesce(cond, F.lit(False))
                ).select(*base.columns)
                joined = joined.filter(F.coalesce(cond, F.lit(False)))
            else:
                kept = None
            updated = (
                joined
                .select(
                    *[
                        sets.get(c, F.col(c)).alias(c)
                        for c in base.columns
                    ]
                )
                .select(
                    *[
                        F.col(f.name).cast(sql_type(f.dataType)).alias(f.name)
                        for f in base.schema.fields
                    ]
                )
            )
            # generated columns recompute from the post-SET row (the
            # unchanged/kept arms already carry correct stored values)
            updated = self._recompute_generated(name, updated)
            unchanged = base.join(rows.select(*keys), keys, "left_anti")
            fresh = rows.join(base.select(*keys), keys, "left_anti")
            affected = updated.unionByName(fresh)
            before, after = unchanged, kept
        seen = Observed(affected, upserted=F.count(F.lit(1)))
        new_df = before.unionByName(seen.df)
        if after is not None:
            new_df = new_df.unionByName(after)
        return self._publish(
            name, new_df, seen.df, "upserted", returning, (seen,),
            lambda m: m["upserted"],
            lambda _: self._validate_new_rows(name, seen.df, full=new_df),
        )

    def _publish(
        self, name, new_df, matched, verb, returning, observed, count,
        verify=None,
    ) -> DataFrame:
        """Publish ``new_df`` as the rows of ``name`` for a join-write
        (ON CONFLICT, UPDATE…FROM, DELETE…USING, MERGE). ``observed`` are
        built into ``new_df``'s plan; ``count(metrics)`` is the
        affected-row count and ``matched`` the affected rows.

        Autocommit without RETURNING runs one Spark action, the staged
        write: stage → ``verify(metrics)`` → commit. Otherwise no write
        runs now: one pass to the no-op sink takes the metrics and
        ``verify`` runs on them; then the frame is staged in the
        transaction, or (RETURNING) the affected rows are pinned before the
        table is swapped."""
        table = self.tables[name]
        if self._txn is None and not returning:
            m = table._swap_in(new_df, *observed, verify=verify)
            self._register(table)
            return self._status(**{verb: count(m)})
        m = count_pass(new_df, *observed)
        if verify is not None:
            verify(m)
        if self._txn is not None:
            return self._stage_txn(
                name, new_df, matched, verb, returning, n=count(m)
            )
        # pin the affected rows BEFORE the swap: they are lazy plans over
        # the pre-swap files, which _swap_in deletes
        result = pin(matched)
        table._swap_in(new_df)
        self._register(table)
        return self._apply_returning(result, returning)

    def _flagged_join(self, base, t_alias, src_name, s_alias, cond_text):
        """``base`` LEFT JOIN the source on ``cond_text``, the source
        carrying a ``__hit`` marker (NULL on target rows no source row
        matches). A target row appears once per matching source row, or
        once unmatched, so "some target row matched more than once" is
        exactly ``join_rows != target_rows``; both counts are observed.
        Returns (joined, target observation)."""
        target = Observed(base, target_rows=F.count(F.lit(1)))
        src = self.spark.table(src_name).withColumn("__hit", F.lit(True))
        joined = target.df.alias(t_alias).join(
            src.alias(s_alias), F.expr(cond_text), "left"
        )
        return joined, target

    def _update_from(
        self, name, set_clause, src_name, src_alias, where, returning
    ) -> DataFrame:
        """PG join-update: UPDATE t SET ... FROM src WHERE <join cond>.
        SET and WHERE expressions may reference both tables (qualified on
        ambiguity, as in PG). Where PG silently applies an ARBITRARY
        matching src row when several match one target row, this engine
        REFUSES (deterministic-results policy — the same stance as the
        ON CONFLICT duplicate-arbiter guard). Distributed shape: one LEFT
        join of target to source and one projection; the write observes
        the guard's counts and the updated count."""
        from otterbrix_spark.operators.dml import ConstraintViolation

        table = self.tables[name]
        base = (
            self._txn.get(name, table.df())
            if self._txn is not None
            else table.df()
        )
        set_txt = _split_set_list(set_clause)
        genu = set(self.generated_cols.get(name, {}))
        badg = sorted(
            c for c in genu & set(set_txt)
            if set_txt[c].strip().upper() != "DEFAULT"
        )
        if badg:
            raise ValueError(
                f'column "{badg[0]}" can only be updated to DEFAULT '
                f'("{badg[0]}" is a generated column)'
            )
        set_txt = {c: e for c, e in set_txt.items() if c not in genu}
        sets = _resolve_set_targets(set_txt)
        joined, target = self._flagged_join(
            base, name, src_name, src_alias or src_name, where
        )
        hit = F.col("__hit").isNotNull()
        flagged = Observed(
            joined.select(
                *[
                    (
                        F.when(hit, sets[f.name])
                        .otherwise(F.col(f"{name}.{f.name}"))
                        if f.name in sets else F.col(f"{name}.{f.name}")
                    )
                    .cast(sql_type(f.dataType))
                    .alias(f.name)
                    for f in base.schema.fields
                ],
                hit.alias("__hit"),
            ),
            join_rows=F.count(F.lit(1)),
            updated=F.count_if(F.col("__hit")),
        )
        new_df = self._recompute_generated(name, flagged.df.drop("__hit"))
        updated = self._recompute_generated(
            name, flagged.df.filter(F.col("__hit")).drop("__hit")
        )

        def verify(m):
            if m["join_rows"] != m["target_rows"]:
                raise ConstraintViolation(
                    f"UPDATE {name} FROM {src_name}: a target row matches "
                    "multiple source rows (PG applies an arbitrary one; "
                    "this engine refuses non-deterministic updates)"
                )
            self._validate_new_rows(name, updated, full=new_df)

        return self._publish(
            name, new_df, updated, "updated", returning,
            (target, flagged), lambda m: m["updated"], verify,
        )

    def _delete_using(
        self, name, tgt_alias, src_name, src_alias, where, returning
    ) -> DataFrame:
        """PG join-delete: DELETE FROM t [AS x] USING src [AS y] WHERE
        <join cond> — target rows with AT LEAST one matching source row
        are deleted (multiple matches are fine: deletion has no
        arbitrary-pick hazard, unlike UPDATE..FROM). Distributed shape:
        one semi-join on the predicate, one anti-join for survivors —
        the delete-matched half of a lakehouse MERGE. Both read the same
        unpinned frame with a deterministic predicate, so together they
        partition it."""
        talias = tgt_alias or name
        src = self.spark.table(src_name).alias(src_alias or src_name)
        doomed = self._live_df(name).alias(talias).join(
            src, F.expr(where), "left_semi"
        )
        # parent-side FK semantics, same as the plain DELETE path
        for child_name, new_child in self._fk_on_delete(
            name, doomed, F.lit(True)
        ):
            if self._txn is not None:
                self._txn[child_name] = new_child
                new_child.createOrReplaceTempView(child_name)
            else:
                self.tables[child_name]._swap_in(new_child)
                self._register(self.tables[child_name])
        # re-read: a self-referencing FK's SET NULL / CASCADE rewrote
        # this table's own rows above
        base = self._live_df(name)
        matched = base.alias(talias).join(src, F.expr(where), "left_semi")
        before = Observed(base, rows=F.count(F.lit(1)))
        after = Observed(
            before.df.alias(talias).join(src, F.expr(where), "left_anti"),
            kept=F.count(F.lit(1)),
        )
        return self._publish(
            name, after.df, matched, "deleted", returning,
            (before, after), lambda m: m["rows"] - m["kept"],
        )

    def _merge_into(
        self, name, t_alias, src_name, src_alias, on_text, when_text
    ) -> DataFrame:
        """PG 15 MERGE INTO t USING s ON cond WHEN [NOT] MATCHED [AND c]
        THEN UPDATE SET ... | DELETE | INSERT (...) VALUES (...) |
        DO NOTHING. The WHEN list is ordered: per candidate row the FIRST
        clause of the matching kind whose AND-condition holds fires; a
        row no clause fires for is left alone (matched) or skipped (not
        matched). Like ``_update_from`` (and unlike PG's arbitrary pick),
        a target row matched by several source rows is REFUSED.

        Distributed shape — the lakehouse merge: ONE LEFT join of target
        to source for the matched clauses, ONE anti-join for not-matched
        source rows, one union. Clause selection is a column-level CASE
        cascade over the joined frame (no per-clause re-join, no per-row
        loop); at 100 TB this is exactly the shuffle-merge a Delta/Iceberg
        MERGE executes. The write observes the guard's counts and the
        updated, deleted and inserted counts."""
        from otterbrix_spark.operators.dml import ConstraintViolation

        table = self.tables[name]
        base = (
            self._txn.get(name, table.df())
            if self._txn is not None
            else table.df()
        )
        t_alias = t_alias or name
        src_alias = src_alias or src_name
        src = self.spark.table(src_name)
        # split WHEN clauses over STRING-PROTECTED text (same discipline
        # as _match_protected): a literal containing ' WHEN MATCHED ' or
        # ' THEN ' must never terminate an action early
        from otterbrix_spark.dialect import _protect_strings, _restore_strings

        w_prot, w_lits = _protect_strings(when_text)
        clauses = [
            (
                not bool(m.group(1)),
                _restore_strings(m.group(2), w_lits) if m.group(2) else None,
                _restore_strings(m.group(3), w_lits).strip(),
            )
            for m in _MERGE_WHEN.finditer(w_prot)
        ]  # (is_matched, and_cond_text | None, action_text)
        if not clauses:
            raise ValueError(f"MERGE INTO {name}: no WHEN clauses parsed")

        def _fire(kinds):
            """First-match-wins clause index as a CASE cascade column."""
            out = F.lit(-1)
            for idx, (_, cond, _) in reversed(list(kinds)):
                hit = F.expr(cond) if cond else F.lit(True)
                out = F.when(hit, F.lit(idx)).otherwise(out)
            return out

        matched_cl = [(i, c) for i, c in enumerate(clauses) if c[0]]
        notm_cl = [(i, c) for i, c in enumerate(clauses) if not c[0]]

        fields = base.schema.fields
        upd_idx, del_idx = [], []
        col_chain: dict[str, F.Column] = {}
        for i, (_, _, action) in matched_cl:
            up = action.upper()
            if up.startswith("UPDATE"):
                upd_idx.append(i)
                sets = _resolve_set_targets(
                    _split_set_list(
                        re.sub(r"^UPDATE\s+SET\s+", "", action,
                               flags=re.IGNORECASE | re.DOTALL)
                    )
                )
                for col, val in sets.items():
                    prev = col_chain.get(col)
                    cond = F.col("__fire") == i
                    col_chain[col] = (
                        F.when(cond, val) if prev is None
                        else prev.when(cond, val)
                    )
            elif up == "DELETE":
                del_idx.append(i)
            elif up not in ("DO NOTHING",):
                raise ValueError(
                    f"MERGE WHEN MATCHED: unsupported action {action!r}"
                )
        joined, target = self._flagged_join(
            base, t_alias, src_name, src_alias, on_text
        )
        # a target row no source row matched fires no clause (-1)
        fired = Observed(
            joined.withColumn(
                "__fire",
                F.when(F.col("__hit").isNotNull(), _fire(matched_cl))
                .otherwise(F.lit(-1)),
            ),
            join_rows=F.count(F.lit(1)),
            updated=F.count_if(F.col("__fire").isin(upd_idx)),
            deleted=F.count_if(F.col("__fire").isin(del_idx)),
        )
        matched_after = (
            fired.df.filter(~F.col("__fire").isin(del_idx) if del_idx
                            else F.lit(True))
            .select(
                "__fire",
                *[
                    (
                        col_chain[f.name].otherwise(
                            F.col(f"{t_alias}.{f.name}")
                        )
                        if f.name in col_chain
                        else F.col(f"{t_alias}.{f.name}")
                    ).cast(sql_type(f.dataType)).alias(f.name)
                    for f in fields
                ],
            )
        )
        updated = matched_after.filter(
            F.col("__fire").isin(upd_idx) if upd_idx else F.lit(False)
        ).drop("__fire")
        new_df = matched_after.drop("__fire")

        not_matched = src.alias(src_alias).join(
            base.alias(t_alias), F.expr(on_text), "left_anti"
        )
        ins_frames = []
        nm_fired = not_matched.withColumn("__fire", _fire(notm_cl))
        for i, (_, _, action) in notm_cl:
            if action.upper() == "DO NOTHING":
                continue
            m_ins = _MERGE_INSERT.match(action)
            if not m_ins:
                raise ValueError(
                    f"MERGE WHEN NOT MATCHED: unsupported action {action!r}"
                )
            cols = (
                [c.strip() for c in m_ins.group(1).split(",")]
                if m_ins.group(1) else [f.name for f in fields]
            )
            exprs = _split_top_level(m_ins.group(2))
            if len(cols) != len(exprs):
                raise ValueError(
                    "MERGE INSERT: column list and VALUES arity differ"
                )
            by_col = dict(zip(cols, exprs))
            ins_frames.append(
                nm_fired.filter(F.col("__fire") == i).select(
                    *[
                        (
                            F.expr(by_col[f.name]) if f.name in by_col
                            else F.lit(None)
                        ).cast(sql_type(f.dataType)).alias(f.name)
                        for f in fields
                    ]
                )
            )
        observed = [target, fired]
        affected = updated
        if ins_frames:
            inserted = Observed(
                functools.reduce(DataFrame.unionByName, ins_frames),
                inserted=F.count(F.lit(1)),
            )
            observed.append(inserted)
            new_df = new_df.unionByName(inserted.df)
            affected = affected.unionByName(inserted.df)
        # stored generated columns recompute over the whole post-merge
        # frame — idempotent for untouched rows, so this is exact
        new_df = self._recompute_generated(name, new_df)
        affected = self._recompute_generated(name, affected)
        # affected + delete-fired rows: under an EXPLAIN probe the
        # status is this frame's lazy count (the plan a plain EXPLAIN
        # MERGE shows is the real write aggregate, not a one-row literal)
        touched = affected.select(F.lit(1).alias("__one"))
        if del_idx:
            touched = touched.unionAll(
                fired.df.filter(F.col("__fire").isin(del_idx))
                .select(F.lit(1).alias("__one"))
            )

        def verify(m):
            if m["join_rows"] != m["target_rows"]:
                raise ConstraintViolation(
                    f"MERGE INTO {name}: a target row matches multiple "
                    "source rows (PG raises 'cannot affect row a second "
                    "time'; this engine refuses the same way)"
                )
            self._validate_new_rows(name, affected, full=new_df)

        return self._publish(
            name, new_df, touched, "merged", None, observed,
            lambda m: m["updated"] + m["deleted"] + m.get("inserted", 0),
            verify,
        )

    # -- constraint enforcement (reference operator_check_constraint /
    # -- operator_fk_check / operator_fk_cascade, routed through SQL DDL) ----

    def _live_df(self, name: str) -> DataFrame:
        """Current frame for a table: staged (read-your-writes) if in txn."""
        if self._txn is not None and name in self._txn:
            return self._txn[name]
        if name in self.tables:
            return self.tables[name].df()
        raise ValueError(f"unknown table: {name}")

    def _validate_new_rows(
        self, name: str, rows: DataFrame, full: DataFrame | None = None
    ) -> None:
        """Validate inserted/updated rows of ``name`` against its CHECK, FK
        and UNIQUE constraints. Only the changed rows are scanned (a CHECK is
        one filter+count; an FK is one anti-join against the parent; a UNIQUE
        on insert is one self-groupBy plus one semi-join) — never a
        full-table revalidation, so the cost tracks the DML size at scale.
        ``full`` is the post-change frame, passed by UPDATE so UNIQUE can see
        collisions between updated and untouched rows."""
        from otterbrix_spark.operators.dml import (
            ConstraintViolation, check_constraint, fk_check,
        )

        for c in self.table_constraints.get(name, ()):
            if c["kind"] == "check":
                check_constraint(rows, F.expr(c["expr"]), c["name"])
            elif c["kind"] == "fk":
                parent = self._live_df(c["parent"])
                if c["parent"] == name:
                    # a self-referencing row may point at a row the same
                    # statement writes (PG checks at statement end)
                    key = c["parent_key"]
                    parent = parent.select(key).unionByName(rows.select(key))
                fk_check(rows, parent, c["child_key"], c["parent_key"])
            elif c["kind"] == "unique":
                keys = c["cols"]
                frame = full if full is not None else rows
                bad = (
                    frame.groupBy(*keys).count()
                    .filter(F.col("count") > 1).count()
                )
                if not bad and full is None:
                    # insert: new keys must also not collide with existing
                    bad = rows.join(
                        self._live_df(name).select(*keys), on=keys,
                        how="left_semi",
                    ).count()
                if bad:
                    raise ConstraintViolation(
                        f"{c['name']}: duplicate key value on ({', '.join(keys)})"
                    )

    def _fk_dependents(self, parent: str) -> list[tuple[str, dict]]:
        return [
            (child, c)
            for child, cons in self.table_constraints.items()
            for c in cons
            if c["kind"] == "fk" and c["parent"] == parent
        ]

    def _fk_on_delete(self, name: str, base: DataFrame, cond) -> list[tuple[str, DataFrame]]:
        """Apply FK semantics for a DELETE on parent ``name``: raise for
        referencing children under RESTRICT/NO ACTION (checked eagerly,
        before any mutation), and return the surviving child frames for ON
        DELETE CASCADE (children first, as in fk_cascade_delete). The doomed
        key set stays distributed (semi/anti joins, no collect)."""
        from otterbrix_spark.operators.dml import ConstraintViolation

        cascades: list[tuple[str, DataFrame]] = []
        deps = self._fk_dependents(name)
        if not deps:
            return cascades
        doomed_base = base.filter(F.coalesce(cond, F.lit(False)))
        for child_name, c in deps:
            child = self._live_df(child_name)
            doomed = (
                doomed_base.select(F.col(c["parent_key"]).alias("__doomed_key"))
                .distinct()
            )
            on = child[c["child_key"]] == doomed["__doomed_key"]
            if c.get("on_delete") == "cascade":
                cascades.append((child_name, child.join(doomed, on, "left_anti")))
            elif c.get("on_delete") == "set_null":
                # ON DELETE SET NULL (reference fk_set_null): child rows
                # survive, the FK column nulls where it referenced a
                # doomed key — one distributed left join + projection
                null_fk = F.lit(None).cast(
                    child.schema[c["child_key"]].dataType
                )
                new_child = child.join(doomed, on, "left").select(
                    *[
                        F.when(F.col("__doomed_key").isNotNull(), null_fk)
                        .otherwise(child[f]).alias(f)
                        if f == c["child_key"] else child[f]
                        for f in child.columns
                    ]
                )
                cascades.append((child_name, new_child))
            else:
                n = child.join(doomed, on, "left_semi").count()
                if n:
                    raise ConstraintViolation(
                        f"{c['name']}: {n} row(s) in {child_name} still "
                        f"reference deleted {name} rows"
                    )
        return cascades

    def _default_expr(
        self, expr_text: str, rows, n_cache: dict
    ) -> "F.Column":
        """Column for a stored DEFAULT expression, evaluating sequence
        functions at INSERT time — PG semantics: the DDL stores the
        EXPRESSION and nextval advances once per inserted row (a frozen
        DDL-time value would hand every future row the same id). For a
        multi-row insert the values are assigned by row number and the
        sequence advances by the row count (mirroring the per-row
        INSERT ... SELECT nextval path); the row count is computed once
        per statement and shared across default columns via ``n_cache``.
        ``rows=None`` marks the single-row DEFAULT VALUES form."""
        if not re.search(r"\b(nextval|currval)\s*\(", expr_text, re.IGNORECASE):
            return F.expr(expr_text)

        def sub(mm: re.Match) -> str:
            fn = mm.group(1).lower()
            name = mm.group(2).replace(".", "__")
            if name not in self.sequences:
                raise ValueError(f"unknown sequence: {name}")
            if fn == "currval":
                if name not in self._seq_last:
                    raise ValueError(
                        f'currval of sequence "{name}" is not yet defined'
                    )
                return str(self._seq_last[name])
            start = self.sequences[name]
            step = self._seq_step.get(name, 1)
            if rows is None:
                n = 1
            else:
                if "n" not in n_cache:
                    n_cache["n"] = rows.count()
                n = n_cache["n"]
            self.sequences[name] = start + n * step
            self._seq_last[name] = self.sequences[name] - step
            if n <= 1:
                return str(start)
            return (
                f"({start} + (ROW_NUMBER() OVER (ORDER BY "
                f"monotonically_increasing_id()) - 1) * {step})"
            )

        return F.expr(
            re.sub(
                r"\b(nextval|currval)\s*\(\s*'([\w.]+)'\s*\)",
                sub, expr_text, flags=re.IGNORECASE,
            )
        )

    def _consume_seq_text(self, text: str) -> str:
        """Substitute every nextval()/currval() occurrence in ``text``
        with a concrete value, consuming one sequence value per nextval
        occurrence (PG statement-level folding, parameter_node_t style)."""
        if not re.search(r"\b(nextval|currval)\s*\(", text, re.IGNORECASE):
            return text

        def sub(mm: re.Match) -> str:
            fn = mm.group(1).lower()
            name = mm.group(2).replace(".", "__")
            if name not in self.sequences:
                raise ValueError(f"unknown sequence: {name}")
            value = self.sequences[name]
            if fn == "nextval":
                self.sequences[name] = value + self._seq_step.get(name, 1)
                self._seq_last[name] = value
                return str(value)
            if name not in self._seq_last:
                raise ValueError(
                    f'currval of sequence "{name}" is not yet defined'
                )
            return str(self._seq_last[name])

        return re.sub(
            r"\b(nextval|currval)\s*\(\s*'([\w.]+)'\s*\)",
            sub, text, flags=re.IGNORECASE,
        )

    def _truncate(
        self, names: list[str], restart: bool, cascade: bool
    ) -> DataFrame:
        """PG TRUNCATE: empty every listed table (schema, constraints and
        defaults survive). FK semantics are PG's: a foreign key FROM a
        table outside the truncation set is an error under the default
        RESTRICT — even when the referencing table is empty — and CASCADE
        pulls dependents in transitively. RESTART IDENTITY resets every
        sequence consumed by the truncated tables' column DEFAULTs to its
        START value (currval becomes undefined again, as in PG). Inside a
        transaction the empty frames are staged like any other DML, so
        ROLLBACK restores the rows."""
        from otterbrix_spark.operators.dml import ConstraintViolation

        doomed = list(dict.fromkeys(names))
        i = 0
        while i < len(doomed):
            for child, c in self._fk_dependents(doomed[i]):
                if child in doomed:
                    continue
                if not cascade:
                    raise ConstraintViolation(
                        f"cannot truncate {doomed[i]}: {c['name']} on "
                        f"{child} references it (use TRUNCATE ... CASCADE)"
                    )
                doomed.append(child)
            i += 1
        n_rows = 0
        for name in doomed:
            table = self.tables[name]
            if self._txn is not None:
                base = self._txn.get(name, table.df())
                empty = base.filter(F.lit(False))
                self._txn[name] = empty
                empty.createOrReplaceTempView(name)
            else:
                n_rows += table.delete(F.lit(True))
                self._register(table)
            if restart:
                import re as _re

                for expr in self.table_defaults.get(name, {}).values():
                    # same name pattern + '.'->'__' canonicalization as
                    # _default_expr, so schema-qualified nextval('db.seq')
                    # defaults reset their sequence too
                    for seq in _re.findall(
                        r"nextval\s*\(\s*'([\w.]+)'\s*\)", expr, _re.IGNORECASE
                    ):
                        seq = seq.replace(".", "__")
                        if seq not in self.sequences:
                            continue
                        if self._txn is not None:
                            # PG rolls the RESTART IDENTITY reseed back
                            # with the truncate — stage it for COMMIT
                            # (divergence: in-txn nextval after the
                            # truncate draws pre-reseed values; PG
                            # restarts immediately. Documented — the
                            # staged-frame model has no per-statement
                            # sequence snapshot; self-review r13 pass 2)
                            self._txn_reseed.append(seq)
                        else:
                            self.sequences[seq] = self._seq_start.get(seq, 1)
                            self._seq_last.pop(seq, None)
        return self._status(truncated=n_rows, n_tables=len(doomed))

    def _add_constraint(self, name: str, con: dict) -> None:
        """Register a constraint, validating existing rows first (PG
        validates on ADD CONSTRAINT; a violating table rejects the DDL)."""
        if name not in self.tables:
            raise ValueError(f"unknown table: {name}")
        if con["kind"] == "fk" and con["parent"] not in self.tables:
            raise ValueError(f"unknown parent table: {con['parent']}")
        if (
            con["kind"] == "fk"
            and con["parent"] in self.temp_tables
            and name not in self.temp_tables
        ):
            # PG: constraints on permanent tables may reference only
            # permanent tables — also keeps the COMMIT-time ON COMMIT
            # DELETE ROWS sweep from tripping over a permanent child
            # AFTER the txn's writes already published (r13 pass 2)
            raise ValueError(
                "constraints on permanent tables may only reference "
                "permanent tables"
            )
        self.table_constraints.setdefault(name, [])
        self.table_constraints[name].append(con)
        try:
            live = self._live_df(name)
            self._validate_new_rows(name, live, full=live)
        except Exception:
            self.table_constraints[name].pop()
            raise

    # -- persisted SQL functions (pg_proc analogue) --------------------------

    def _functions_path(self) -> str:
        return os.path.join(self.base_dir, "_functions.json")

    def _register_function(self, name: str, params: list[str],
                           returns: str, expr: str) -> None:
        plist = ", ".join(params)
        self.spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({plist}) "
            f"RETURNS {returns} RETURN {expr}"
        )
        self.functions[name] = {
            "params": params, "returns": returns, "expr": expr,
        }

    def _save_functions(self) -> None:
        import json

        with open(self._functions_path(), "w") as fh:
            json.dump(self.functions, fh, indent=1)

    def _replay_functions(self) -> None:
        import json

        path = self._functions_path()
        if not os.path.exists(path):
            return
        with open(path) as fh:
            saved = json.load(fh)
        for name, d in saved.items():
            self._register_function(name, d["params"], d["returns"], d["expr"])

    def canonicalize(self, sql: str) -> str:
        """``db.table`` -> ``db__table`` for every registered database
        (reference tests address all collections as database.collection,
        e.g. `t.acc`, `AggDb.child`; Spark temp views are single-part).
        String literals are protected; a bare ``alias.column`` reference is
        untouched unless the alias shadows a registered database name.
        ``information_schema.X`` always canonicalizes (it is an implicit
        namespace, as in PG — no CREATE DATABASE needed), and the
        ``pg_catalog.`` qualifier is STRIPPED: psql / JDBC / ORMs spell
        system tables as pg_catalog.pg_class, and the system views are
        registered unqualified."""
        has_info = re.search(
            r"\b(?:information_schema|pg_catalog)\.", sql, re.IGNORECASE
        )
        if not self.databases and not has_info:
            return sql
        from otterbrix_spark.dialect import _protect_strings, _restore_strings

        body, lits = _protect_strings(sql)
        if has_info:
            body = re.sub(
                r"\b(information_schema)\.(\w+)", r"\1__\2", body,
                flags=re.IGNORECASE,
            )
            # strip the qualifier only for the REGISTERED system views —
            # a blanket \w+ strip would also rewrite pg_catalog.version()
            # or a user alias literally named pg_catalog into confusing
            # unresolved-name failures downstream
            body = re.sub(
                r"\bpg_catalog\.(pg_database|pg_namespace|pg_class"
                r"|pg_attribute|pg_type|pg_proc|pg_tables|pg_sequences"
                r"|pg_constraint|pg_description)\b",
                r"\1", body, flags=re.IGNORECASE,
            )
            leftover = re.search(
                r"\bpg_catalog\.(\w+)", body, re.IGNORECASE
            )
            if leftover:
                raise ValueError(
                    f"pg_catalog.{leftover.group(1)} is not supported "
                    "(supported system views: pg_database, pg_namespace, "
                    "pg_class, pg_attribute, pg_type, pg_proc, pg_tables, "
                    "pg_description, "
                    "pg_sequences, pg_constraint)"
                )
        for db in sorted(self.databases, key=len, reverse=True):
            body = re.sub(
                rf"\b({re.escape(db)})\.(\w+)", r"\1__\2", body,
                flags=re.IGNORECASE,
            )
        return _restore_strings(body, lits)

    def explain_route(self, sql: str) -> DataFrame:
        """Route a mutating statement for PLAIN ``EXPLAIN``: run it inside an
        implicit transaction whose staged frames are discarded, so the plan
        can be inspected without applying the write — PG executes DML only
        under ``EXPLAIN ANALYZE``. Nested inside a user transaction, the
        user's staged state is snapshotted and restored (their temp views
        included), so the probe is invisible either way — INCLUDING
        sequence state: an INSERT whose DEFAULT calls nextval() must not
        consume values (or define currval) during a plan-only probe, as PG
        never evaluates nextval under plain EXPLAIN."""
        snap = self._txn
        snap_dyn = self._txn_dyn
        seq_snap = (
            dict(self.sequences), dict(self._seq_last),
            dict(self._seq_step), dict(self._seq_start),
        )
        self._txn = dict(snap) if snap is not None else {}
        self._txn_dyn = (
            {k: list(v) for k, v in snap_dyn.items()}
            if snap_dyn is not None
            else {}
        )
        created_snap = list(self._txn_created)
        probe_snap, self._explain_probe = self._explain_probe, True
        try:
            return self.route(sql)
        finally:
            self._explain_probe = probe_snap
            self._txn_created = created_snap
            probed, self._txn = self._txn, snap
            probed_dyn, self._txn_dyn = self._txn_dyn, snap_dyn
            # release any batch the probe staged beyond the user's own
            # staging (ADVICE r8: discarded staged batches leaked their
            # block-manager storage) — a no-op for lazy probe batches
            for name, batches in (probed_dyn or {}).items():
                user = (snap_dyn or {}).get(name, [])
                for b in batches:
                    if not any(b is u for u in user):
                        self._release_staged(b)
            (self.sequences, self._seq_last,
             self._seq_step, self._seq_start) = seq_snap
            for name in probed or {}:
                if snap is not None and name in snap:
                    snap[name].createOrReplaceTempView(name)
                elif name in self.tables:
                    self._register(self.tables[name])
            for name in probed_dyn or {}:
                if name not in self.dynamic:
                    continue
                user_staged = (snap_dyn or {}).get(name)
                self.dynamic[name].df(
                    extra=user_staged or ()
                ).createOrReplaceTempView(name)

    def _positioned_dml(
        self, upd_table, set_clause, del_table, cur_name, returning
    ) -> DataFrame:
        """UPDATE/DELETE ... WHERE CURRENT OF <cursor> — PG's positioned
        DML. PG targets the physical tuple via ctid; on Spark the row is
        matched BY VALUE and exactly ONE instance mutates (row_number
        within the identical-tuple group — among exact duplicates an
        arbitrary one is chosen, which is PG's observable behaviour up to
        physical identity). The cursor must be a simply-updatable scan of
        the target table and be positioned on a row."""
        name = upd_table or del_table
        cur = self._pg_cursors.get(cur_name.lower())
        if cur is None:
            raise ValueError(f'cursor "{cur_name}" does not exist')
        if cur.get("updatable") != name:
            raise ValueError(
                f'cursor "{cur_name}" is not a simply updatable scan of '
                f"table {name}"
            )
        row = cur.get("current")
        if row is None:
            raise ValueError(
                f'cursor "{cur_name}" is not positioned on a row'
            )
        from functools import reduce as _reduce
        from operator import and_ as _and

        from pyspark.sql import Window

        table = self.tables[name]
        base = (
            self._txn.get(name, table.df())
            if self._txn is not None else table.df()
        )
        cols = [f.name for f in base.schema.fields]
        match = _reduce(_and, [
            F.col(c).isNull() if row[c] is None
            else F.col(c).eqNullSafe(F.lit(row[c]))
            for c in cols
        ])
        marked = base.withColumn(
            "__otx_rn",
            F.row_number().over(
                Window.partitionBy(*cols).orderBy(F.lit(1))
            ),
        )
        target = match & (F.col("__otx_rn") == 1)
        probe = self._explain_probe
        if del_table:
            # parent-side FK semantics, exactly like the plain DELETE
            # path: RESTRICT raises before any mutation; CASCADE /
            # SET NULL child frames stage or swap alongside
            for child_name, new_child in self._fk_on_delete(
                name, marked, target
            ):
                if self._txn is not None:
                    self._txn[child_name] = new_child
                    new_child.createOrReplaceTempView(child_name)
                else:
                    self.tables[child_name]._swap_in(new_child)
                    self._register(self.tables[child_name])
            new_df = marked.filter(~target).select(*cols)
            matched = marked.filter(target).select(*cols)
            verb = "deleted"
        else:
            # SET col = DEFAULT assigns the declared default (plain-
            # UPDATE parity); sequence calls consume ONE statement value
            dfl = self.table_defaults.get(name, {})
            set_texts = {
                col: self._consume_seq_text(
                    dfl.get(col, "NULL")
                    if expr.strip().upper() == "DEFAULT" else expr
                )
                for col, expr in _split_set_list(set_clause).items()
            }
            sets = _resolve_set_targets(set_texts)
            new_df, matched = apply_update(marked, target, sets)
            new_df = new_df.select(*cols)
            matched = matched.select(*cols)
            if not probe:
                # pin the post-update row NOW: the swap below deletes
                # the files its lazy plan reads, and the cursor
                # repositions on it
                matched = matched.localCheckpoint(eager=True)
            verb = "updated"
        self._validate_new_rows(name, matched, full=new_df)
        if self._txn is not None:
            out = self._stage_txn(name, new_df, matched, verb, returning)
        else:
            if returning:
                if del_table:
                    matched = matched.localCheckpoint(eager=True)
                table._swap_in(new_df)
                self._register(table)
                out = self._apply_returning(matched, returning)
            else:
                n = matched.count()
                table._swap_in(new_df)
                self._register(table)
                out = self._status(**{verb: n})
        # cursor position updates happen only AFTER the statement
        # succeeded, and never under a plain-EXPLAIN probe (the probe
        # must not mutate cursor state or run eager jobs)
        if not probe:
            if del_table:
                cur["current"] = None  # the row under the cursor is gone
            else:
                # PG follows the update chain: the cursor now sees the
                # post-update values (a second positioned UPDATE
                # re-updates)
                new_row = matched.limit(1).collect()
                if new_row:
                    cur["current"] = new_row[0]
        return out

    def _with_dml(self, ctes, tail: str) -> DataFrame:
        """PG data-modifying CTEs: ``WITH m AS (DELETE ... RETURNING ...)
        INSERT INTO archive SELECT * FROM m`` (PG docs 7.8.2; the
        reference's statement surface is transactional per statement,
        `components/table/transaction.hpp`). Semantics implemented:

        - every sub-statement sees the SAME statement-start snapshot —
          the main query reads the PRE-modification state of any table a
          CTE writes (pinned via localCheckpoint on plain parquet; on a
          Delta/Iceberg backing this would be a free version read — the
          documented table-format seam);
        - each DML CTE executes exactly once, even if unreferenced;
          its RETURNING rows are the CTE's output;
        - refused loudly (documented restrictions): two sub-statements
          writing the same table (PG makes row-level double-update an
          error; table-level is unspecified — we refuse the whole class),
          a main DML on a CTE-written table, and a CTE name that shadows
          a registered table.
        """
        written: list[str] = []
        for _, _, body in ctes:
            if _DML_HEAD.match(body):
                mt = _DML_TARGET.match(body)
                if not mt:
                    raise ValueError(
                        f"cannot find the target table of WITH sub-statement: {body[:60]!r}"
                    )
                written.append(mt.group(1))
        if len(set(written)) != len(written):
            raise ValueError(
                "WITH: the same table may be modified by at most one "
                "sub-statement per statement"
            )
        main_dml = _DML_HEAD.match(tail)
        if main_dml:
            mt = _DML_TARGET.match(tail)
            if mt and mt.group(1) in written:
                raise ValueError(
                    f"WITH: table {mt.group(1)} is modified by both a "
                    "sub-statement and the main statement"
                )
        for name, _, _ in ctes:
            if name in self.tables or name in self.dynamic:
                raise ValueError(
                    f"WITH query name {name!r} shadows a table — rename the CTE"
                )
        # pin the statement-start snapshot of every written table; under a
        # plain-EXPLAIN probe stay lazy (zero jobs — the probe never swaps)
        pinned: dict[str, DataFrame] = {}
        for t in written:
            if t in self.dynamic:
                raise ValueError(
                    "modifying CTEs over dynamic (schemaless) tables are "
                    "not supported"
                )
            if t not in self.tables:
                raise ValueError(f"unknown table in WITH sub-statement: {t}")
            base = (
                self._txn[t]
                if (self._txn is not None and t in self._txn)
                else self.tables[t].df()
            )
            pinned[t] = (
                base if self._explain_probe
                else base.localCheckpoint(eager=True)
            )
        cte_views: list[str] = []
        try:
            for t, df in pinned.items():
                df.createOrReplaceTempView(t)
            for name, cols, body in ctes:
                if _DML_HEAD.match(body):
                    has_ret = re.search(r"\bRETURNING\b", body, re.IGNORECASE)
                    out = self.route(body)
                    # DML staging re-registers its target's view to the
                    # post-state — re-pin the snapshot for later readers
                    for t, df in pinned.items():
                        df.createOrReplaceTempView(t)
                    if not has_ret:
                        # PG: referencing a RETURNING-less wCTE is an
                        # error; executing it for effect alone is legal
                        continue
                    if cols:
                        out = out.toDF(
                            *[c.strip() for c in cols.strip("()").split(",")]
                        )
                    if not self._explain_probe:
                        # pin the RETURNING rows: re-analysing the name as
                        # a temp view does not reliably reuse the DML
                        # path's cache, and the lineage reads parquet
                        # files the swap just deleted
                        out = out.localCheckpoint(eager=True)
                else:
                    # plain CTE: resolve NOW as a temp view, in
                    # declaration order — a later DML sub-statement may
                    # reference it (self-review r10), it must see the
                    # pinned snapshot, and Spark's eager analysis makes
                    # the laziness safe across the view restore
                    out = self.spark.sql(body)
                    if cols:
                        out = out.toDF(
                            *[c.strip() for c in cols.strip("()").split(",")]
                        )
                out.createOrReplaceTempView(name)
                cte_views.append(name)
            if self.handles(tail) or main_dml:
                return self.route(tail)
            # Spark analyzes eagerly at DataFrame creation, so the plan
            # binds to the pinned snapshot views; restoring the post-state
            # views in `finally` cannot rebind it
            return self.spark.sql(tail)
        finally:
            for name in cte_views:
                self.spark.catalog.dropTempView(name)
            for t in pinned:
                if self._txn is not None and t in self._txn:
                    self._txn[t].createOrReplaceTempView(t)
                elif t in self.tables:
                    self._register(self.tables[t])

    def _fetch_scroll(self, cur: dict, verb: str, direction: list) -> DataFrame:
        """FETCH/MOVE on a SCROLL cursor: every PG direction over the
        pinned, densely-numbered result (reference cursor.hpp full
        direction set; PG tuplestore semantics). The cursor position
        lives in [0, n+1] (0 = before first, n+1 = after last); each
        FETCH is a __otx_pos range filter over the checkpointed frame —
        a small executor job per call, never a driver-side spool.
        BACKWARD fetches return their rows in reverse position order, as
        PG does."""
        n, pos = cur["n"], cur["pos"]
        d0 = direction[0]
        lo = hi = None
        reverse = False
        if d0 == "RELATIVE" and int(direction[1]) == 0:
            # PG: RELATIVE 0 / FETCH 0 re-fetches the current row
            new = pos
            if 1 <= pos <= n:
                lo = hi = pos
        elif d0 in ("NEXT", "PRIOR", "FIRST", "LAST", "ABSOLUTE", "RELATIVE"):
            if d0 == "NEXT":
                target = pos + 1
            elif d0 == "PRIOR":
                target = pos - 1
                reverse = True
            elif d0 == "FIRST":
                target = 1
            elif d0 == "LAST":
                target = n
            elif d0 == "ABSOLUTE":
                k = int(direction[1])
                target = n + k + 1 if k < 0 else k
            else:  # RELATIVE k
                target = pos + int(direction[1])
            new = max(0, min(n + 1, target))
            if 1 <= target <= n:
                lo = hi = target
        else:
            # count forms: [FORWARD|BACKWARD] [k|ALL], bare k, bare ALL
            if d0 in ("FORWARD", "BACKWARD"):
                cnt = direction[1] if len(direction) > 1 else "1"
            else:
                cnt = d0
            back = d0 == "BACKWARD"
            k = None if cnt == "ALL" else int(cnt)
            if k is not None and k < 0:
                back, k = not back, -k  # PG: FORWARD -n == BACKWARD n
            if k == 0:
                new = pos
                if verb == "FETCH" and 1 <= pos <= n:
                    lo = hi = pos
            elif not back:
                # FORWARD ALL always ends AFTER the last row (PG: pos =
                # n+1, even when already past it) — deriving the span
                # from pos would move the cursor BACKWARD from n+1
                lo = pos + 1
                hi = n if k is None else min(pos + k, n)
                new = n + 1 if k is None else min(pos + k, n + 1)
            else:
                # BACKWARD ALL ends before the first row (pos = 0)
                lo = 1 if k is None else max(pos - k, 1)
                hi = pos - 1
                new = 0 if k is None else max(pos - k, 0)
                reverse = True
        cur["pos"] = new
        empty = lo is None or hi < lo
        if verb == "MOVE":
            moved = 0 if empty else hi - lo + 1
            return self._status(move=moved)
        if empty:
            return self.spark.createDataFrame([], cur["schema"])
        out = cur["df"].filter(F.col("__otx_pos").between(lo, hi))
        order = F.col("__otx_pos").desc() if reverse else F.col("__otx_pos")
        return out.orderBy(order).drop("__otx_pos")

    def route(self, sql: str) -> DataFrame:
        head = sql.strip().rstrip(";").upper()

        parsed = _parse_with_dml(sql)
        if parsed:
            return self._with_dml(*parsed)

        # SET TIMEZONE (reference operator_set_timezone.cpp) -> session
        # conf; both PG spellings (SET TIME ZONE 'x' / SET timezone = 'x')
        m = re.match(
            r"^\s*SET\s+(?:TIME\s*ZONE\s+|timezone\s*(?:=|TO)\s*)"
            r"'([^']+)'\s*;?\s*$",
            sql, re.IGNORECASE,
        )
        if m:
            self.spark.conf.set("spark.sql.session.timeZone", m.group(1))
            return self._empty_status(timezone=m.group(1))
        # any other SET <var>: the reference transformer REFUSES
        # (transformer.cpp:148 — only timezone is supported); falling
        # through to spark.sql would silently mutate Spark session conf
        m = re.match(
            r"^\s*SET\s+(?:LOCAL\s+|SESSION\s+)?([\w.]+)\s*(?:=|TO)\s*.+$",
            sql, re.IGNORECASE,
        )
        if m and m.group(1).upper() not in ("TIME",):
            raise ValueError(
                f"SET {m.group(1)} is not supported (only SET TIME ZONE; "
                "reference transformer.cpp VariableSetStmt)"
            )

        # PG server-side cursors: DECLARE ... CURSOR FOR / FETCH / MOVE /
        # CLOSE. The result streams through toLocalIterator (the
        # reference's ≤1024-row chunked cursor, cursor.hpp:20-60) — FETCH n
        # pulls exactly n rows to the driver, never the whole set. NO
        # SCROLL only (PG's default); the snapshot the cursor reads is the
        # plan's lazy view of the tables at DECLARE time — concurrent DML
        # on plain parquet during an open cursor is the documented
        # Delta/Iceberg versioned-read seam.
        m = re.match(
            r"^\s*DECLARE\s+(\w+)\s+"
            r"((?:BINARY\s+|INSENSITIVE\s+|NO\s+SCROLL\s+|SCROLL\s+)*)"
            r"CURSOR\s*(WITH\s+HOLD|WITHOUT\s+HOLD)?\s*FOR\s+(.+)$",
            sql, re.IGNORECASE | re.DOTALL,
        )
        if m:
            name, opts, hold, query = (
                m.group(1).lower(),
                re.sub(r"\s+", " ", (m.group(2) or "").upper()),
                re.sub(r"\s+", " ", (m.group(3) or "").upper()),
                m.group(4).strip().rstrip(";"),
            )
            scroll = bool(re.search(r"(?<!NO )\bSCROLL\b", opts))
            holdable = hold == "WITH HOLD"
            if self._txn is None and not holdable:
                raise ValueError(
                    "DECLARE CURSOR can only be used in transaction blocks"
                )
            if name in self._pg_cursors:
                raise ValueError(f'cursor "{name}" already exists')
            # simply-updatable scan (PG's test for WHERE CURRENT OF):
            # SELECT * | plain columns FROM one managed table, optional
            # WHERE/ORDER BY. Such cursors plan the FULL row (FETCH
            # projects the requested columns driver-side) and pin the
            # snapshot, so positioned DML swaps cannot break iteration.
            updatable, out_cols = None, None
            mu = re.match(
                r"^\s*SELECT\s+(\*|[\w\s,]+?)\s+FROM\s+([\w.]+)\s*"
                r"(WHERE\s+.+?)?\s*(ORDER\s+BY\s+[\w\s,.]+?)?\s*$",
                query, re.IGNORECASE | re.DOTALL,
            )
            if mu and not scroll and mu.group(2) in self.tables:
                tname = mu.group(2)
                tcols = [
                    f.name for f in self.tables[tname].df().schema.fields
                ]
                sel = mu.group(1).strip()
                want = (
                    tcols if sel == "*"
                    else [c.strip() for c in sel.split(",")]
                )
                if all(c in tcols for c in want):
                    updatable, out_cols = tname, want
                    query = "SELECT * FROM {} {} {}".format(
                        tname, mu.group(3) or "", mu.group(4) or ""
                    )
            df = self.spark.sql(query)
            if updatable:
                df = df.localCheckpoint(eager=True)
            entry = {
                "schema": df.schema,
                "holdable": holdable,
                # PG removes even WITH HOLD cursors when the transaction
                # that CREATED them aborts (holdability only survives a
                # successful COMMIT)
                "in_txn": self._txn is not None,
                "updatable": updatable,
                "out_cols": out_cols,
                "current": None,
                # rows consumed so far (1-based row number of "current");
                # the anchor for forward ABSOLUTE n on NO SCROLL and the
                # full cursor position ([0, n+1]) on SCROLL
                "pos": 0,
            }
            if scroll:
                # SCROLL cursor (PG's tuplestore): pin the result ONCE
                # (localCheckpoint — stable partition layout), number it
                # densely with the partition-offset renumbering (no
                # global single-task window), pin the numbering, and
                # serve every FETCH direction as a position-range filter
                # job over the pinned frame. Rows never mass on the
                # driver; each FETCH transfers exactly the rows asked
                # for. Scroll cursors are read-only here (WHERE CURRENT
                # OF needs the streaming NO SCROLL path) — documented.
                from otterbrix_spark.operators.dml import with_sequence

                pinned = with_sequence(
                    df.localCheckpoint(eager=True), "__otx_pos"
                ).localCheckpoint(eager=True)
                entry.update({
                    "scroll": True,
                    "df": pinned,
                    "n": pinned.count(),
                })
            else:
                # pin the result BEFORE streaming it: a lazy iterator
                # reads the table's current parquet files, which the next
                # UPDATE/COMMIT swap deletes mid-FETCH (PG cursors hold a
                # snapshot; WITH HOLD materializes at COMMIT — the
                # checkpoint is the Spark spelling of that tuplestore,
                # executor-resident and spillable; self-review r13 pass 2)
                entry["it"] = iter(
                    df.localCheckpoint(eager=True).toLocalIterator()
                )
            self._pg_cursors[name] = entry
            return self._empty_status(declared=name)
        m = re.match(
            r"^\s*(FETCH|MOVE)\s+"
            r"(?:(NEXT|PRIOR|FIRST|LAST|ALL|ABSOLUTE\s+-?\d+"
            r"|RELATIVE\s+-?\d+|BACKWARD(?:\s+(?:\d+|ALL))?"
            r"|FORWARD(?:\s+(?:\d+|ALL))?|-?\d+)\s+)?"
            r"(?:(?:FROM|IN)\s+)?(\w+)\s*;?\s*$",
            sql, re.IGNORECASE,
        )
        if m:
            verb = m.group(1).upper()
            direction = (m.group(2) or "NEXT").upper().split()
            name = m.group(3).lower()
            if name not in self._pg_cursors:
                raise ValueError(f'cursor "{name}" does not exist')
            if self._pg_cursors[name].get("scroll"):
                return self._fetch_scroll(
                    self._pg_cursors[name], verb, direction
                )
            if (
                direction[0] in ("PRIOR", "FIRST", "LAST", "BACKWARD")
                or direction[-1].startswith("-")
                or (direction[0] == "RELATIVE" and direction[1] == "0")
            ):
                raise ValueError(
                    "cursor can only scan forward (declared NO SCROLL); "
                    f"{' '.join(direction)} requires SCROLL"
                )
            import itertools

            cur = self._pg_cursors[name]
            skip = 0
            if direction[0] == "RELATIVE":
                # PG: positive RELATIVE n on NO SCROLL moves n-1 forward
                # and returns the n-th succeeding row
                skip, count = int(direction[1]) - 1, 1
            elif direction[0] == "ABSOLUTE":
                # PG permits forward ABSOLUTE n on NO SCROLL (row n
                # counted from the start, PAST the current position) —
                # lowered to a relative skip from the tracked position
                # (ADVICE r10); at-or-before-current needs SCROLL
                target = int(direction[1])
                if target <= cur["pos"]:
                    raise ValueError(
                        "cursor can only scan forward (declared NO "
                        f"SCROLL); ABSOLUTE {target} is at or before "
                        f"the current position ({cur['pos']})"
                    )
                skip, count = target - cur["pos"] - 1, 1
            elif direction[-1] == "ALL":
                count = None
            elif direction[-1].isdigit():
                count = int(direction[-1])
            else:  # NEXT / bare FORWARD
                count = 1
            if skip:
                for _ in itertools.islice(cur["it"], skip):
                    cur["pos"] += 1
            if count == 0:
                # PG: FETCH 0 re-fetches the current row without moving;
                # MOVE 0 does not move — position is untouched either way
                rows = (
                    [cur["current"]]
                    if verb == "FETCH" and cur["current"] is not None
                    else []
                )
            elif verb == "MOVE":
                # drain with a counting loop — MOVE ALL on a large cursor
                # must stay streaming, never a driver-side list
                # (ADVICE r10); only the LAST row is retained (position
                # tracking for WHERE CURRENT OF)
                moved, last = 0, None
                src = (
                    itertools.islice(cur["it"], count)
                    if count is not None else cur["it"]
                )
                for row in src:
                    moved, last = moved + 1, row
                cur["pos"] += moved
                cur["current"] = last if moved else None
                return self._status(move=moved)
            else:
                rows = list(
                    itertools.islice(cur["it"], count)
                    if count is not None else cur["it"]
                )
                cur["pos"] += len(rows)
                # track the position for WHERE CURRENT OF (None past end)
                cur["current"] = rows[-1] if rows else None
            if verb == "MOVE":  # MOVE 0 only (non-zero returned above)
                return self._status(move=0)
            out = self.spark.createDataFrame(rows, cur["schema"])
            if cur.get("out_cols"):
                out = out.select(*cur["out_cols"])
            return out
        m = re.match(r"^\s*CLOSE\s+(\w+|ALL)\s*;?\s*$", sql, re.IGNORECASE)
        if m:
            name = m.group(1).lower()
            if name == "all":
                self._pg_cursors.clear()
            elif name in self._pg_cursors:
                del self._pg_cursors[name]
            else:
                raise ValueError(f'cursor "{name}" does not exist')
            return self._empty_status(closed=name)

        # transactions (reference components/table/transaction.hpp): DML on
        # managed tables inside BEGIN..COMMIT stages lazy frames per table;
        # reads-in-txn see the staged state via re-registered temp views
        # (read-your-writes); COMMIT materialises all staged tables then
        # swaps them in (write-all-then-swap-all — the crash window is the
        # swap loop, the plain-parquet analogue of the reference's commit);
        # ROLLBACK discards the staged frames and restores the views.
        # DDL (CREATE/DROP TABLE) stays autocommit, as in many engines.
        if head in ("BEGIN", "BEGIN TRANSACTION"):
            if self._txn is None:
                self._txn = {}
                self._txn_dyn = {}
                self._txn_save = []
                self._txn_created = []
                self._txn_reseed = []
                self._txn_meta = self._snapshot_type_meta()
            return self._empty_status(txn="BEGIN")

        # SAVEPOINT / ROLLBACK TO / RELEASE (PG TransactionStmt savepoint
        # forms): a savepoint snapshots the staged state (frames are
        # immutable lazy plans, so a shallow copy IS the snapshot);
        # ROLLBACK TO restores it and discards later savepoints (the
        # savepoint itself stays valid, as in PG); RELEASE drops the
        # savepoint keeping the changes. Names may repeat — the newest
        # shadows (PG semantics).
        m = re.match(
            r"^\s*SAVEPOINT\s+(\w+)\s*;?\s*$", sql, re.IGNORECASE
        )
        if m:
            if self._txn is None:
                raise ValueError(
                    "SAVEPOINT can only be used in transaction blocks"
                )
            self._txn_save.append((
                m.group(1).lower(),
                dict(self._txn),
                {k: list(v) for k, v in self._txn_dyn.items()},
                len(self._txn_created),
                # cursor IDENTITY, not just the name: a cursor closed and
                # re-DECLAREd under the same name inside the
                # subtransaction must still die on ROLLBACK TO
                # (self-review r13 pass 2)
                {n: id(c) for n, c in self._pg_cursors.items()},
                self._snapshot_type_meta(),
                len(self._txn_temp_drop),
                len(self._txn_reseed),
            ))
            return self._empty_status(savepoint=m.group(1))
        m = re.match(
            r"^\s*ROLLBACK\s+TO\s+(?:SAVEPOINT\s+)?(\w+)\s*;?\s*$",
            sql, re.IGNORECASE,
        )
        if m:
            sp = m.group(1).lower()
            if self._txn is None:
                raise ValueError(
                    "ROLLBACK TO can only be used in transaction blocks"
                )
            idx = max(
                (i for i, e in enumerate(self._txn_save) if e[0] == sp),
                default=None,
            )
            if idx is None:
                raise ValueError(f"savepoint \"{sp}\" does not exist")
            (_, snap, snap_dyn, n_created, cur_snap, meta_snap,
             n_tdrop, n_reseed) = self._txn_save[idx]
            # ON COMMIT DROP registrations made after the savepoint are
            # undone with their tables — a stale entry would DROP a
            # later permanent namesake at COMMIT (self-review r13 pass 2)
            del self._txn_temp_drop[n_tdrop:]
            del self._txn_reseed[n_reseed:]
            # type DDL after the savepoint is undone; re-copy so a second
            # ROLLBACK TO the same savepoint still has a pristine snapshot
            import copy as _copy

            self._restore_type_meta(_copy.deepcopy(meta_snap))
            # transactional DDL: discard tables created after the savepoint
            undone_created = self._txn_created[n_created:]
            del self._txn_created[n_created:]
            self._drop_created(undone_created)
            # PG closes cursors created inside the rolled-back
            # subtransaction (they may be bound to undone staged state)
            self._pg_cursors = {
                n: c for n, c in self._pg_cursors.items()
                if cur_snap.get(n) == id(c)
            }
            # the savepoint itself survives a rollback to it (PG)
            del self._txn_save[idx + 1:]
            undone, self._txn = self._txn, dict(snap)
            undone_dyn, self._txn_dyn = (
                self._txn_dyn, {k: list(v) for k, v in snap_dyn.items()},
            )
            for name in undone:
                if name in snap:
                    snap[name].createOrReplaceTempView(name)
                elif name in self.tables:
                    self._register(self.tables[name])
            for name in undone_dyn:
                if name not in self.dynamic:
                    # table dropped in-txn: its pinned batches can never
                    # be read again — free them (the full-ROLLBACK path
                    # releases unconditionally; self-review r13 pass 2)
                    kept = snap_dyn.get(name, [])
                    for b in undone_dyn[name]:
                        if not any(b is k for k in kept):
                            self._release_staged(b)
                    continue
                kept = snap_dyn.get(name, [])
                self.dynamic[name].df(
                    extra=kept or ()
                ).createOrReplaceTempView(name)
                # free pinned batches staged after the savepoint
                for b in undone_dyn[name]:
                    if not any(b is k for k in kept):
                        self._release_staged(b)
            return self._empty_status(rollback_to=sp)
        m = re.match(
            r"^\s*RELEASE\s+(?:SAVEPOINT\s+)?(\w+)\s*;?\s*$",
            sql, re.IGNORECASE,
        )
        if m:
            sp = m.group(1).lower()
            if self._txn is None:
                raise ValueError(
                    "RELEASE can only be used in transaction blocks"
                )
            idx = max(
                (i for i, e in enumerate(self._txn_save) if e[0] == sp),
                default=None,
            )
            if idx is None:
                raise ValueError(f"savepoint \"{sp}\" does not exist")
            del self._txn_save[idx:]
            return self._empty_status(released=sp)
        if head == "COMMIT":
            staged, self._txn = self._txn, None
            staged_dyn, self._txn_dyn = self._txn_dyn, None
            self._txn_save = []
            self._txn_meta = None  # type DDL publishes at COMMIT
            self._txn_created = []  # created tables publish at COMMIT
            # PG closes non-holdable cursors at COMMIT; surviving holdable
            # cursors are no longer tied to a creating transaction
            self._pg_cursors = {
                n: c for n, c in self._pg_cursors.items() if c["holdable"]
            }
            for c in self._pg_cursors.values():
                c["in_txn"] = False
            for name in sorted(staged_dyn or {}):
                dyn = self.dynamic.get(name)
                if dyn is None:
                    # table dropped in-txn (DROP stays autocommit): the
                    # staged batches have nowhere to land — release them
                    for batch in staged_dyn[name]:
                        self._release_staged(batch)
                    continue
                for batch in staged_dyn[name]:
                    dyn.insert(batch)  # parquet appends — additive commit
                    # on disk now; no cursor references the pinned batch
                    # (status/RETURNING cursors are eager/self-pinned), so
                    # free its checkpoint blocks instead of waiting for GC
                    self._release_staged(batch)
                dyn.df().createOrReplaceTempView(name)
            if staged:
                from contextlib import ExitStack

                from otterbrix_spark.operators.dml import table_write_lock

                # writer mutex on every touched table, acquired in sorted
                # name order (deadlock-free against a concurrent engine
                # committing an overlapping set), held across both phases
                # a staged table dropped in-txn (DROP stays autocommit)
                # has nothing to publish — skip it instead of KeyError
                pending = [
                    (self.tables[name], staged[name])
                    for name in sorted(staged) if name in self.tables
                ]
                with ExitStack() as locks:
                    for table, _ in pending:
                        locks.enter_context(table_write_lock(table.path))
                    # phase 1: materialise every staged frame beside its table
                    for table, frame in pending:
                        table.stage(frame)
                    # phase 2: swap all staged directories in
                    for table, _ in pending:
                        table.commit_staged()
                for name in staged:
                    if name in self.tables:
                        self._register(self.tables[name])
            # staged TRUNCATE ... RESTART IDENTITY reseeds publish with
            # the truncate they belong to
            reseed, self._txn_reseed = self._txn_reseed, []
            for seq in reseed:
                if seq in self.sequences:
                    self.sequences[seq] = self._seq_start.get(seq, 1)
                    self._seq_last.pop(seq, None)
            # the txn's writes are durably published — the crash-recovery
            # marker must go NOW, not at the next statement boundary: a
            # crash in between would make recovery delete committed
            # tables (self-review r13 pass 2)
            if os.path.exists(self._txn_pending_path()):
                os.remove(self._txn_pending_path())
            # temp-table ON COMMIT actions fire AFTER staged writes
            # publish (PG: the truncate/drop happens at commit, so a
            # transaction's own inserts land first and then vanish)
            dropped_now, self._txn_temp_drop = self._txn_temp_drop, []
            for name in dropped_now:
                if name in self.tables or name in self.dynamic:
                    self.route(f"DROP TABLE {name}")
            for name, mode in list(self.temp_tables.items()):
                if mode == "delete" and name in self.tables:
                    self.route(f"TRUNCATE {name}")
                elif mode == "delete" and name in self.dynamic:
                    # dynamic temp tables truncate at commit too (ADVICE
                    # r12: the sweep previously covered self.tables only)
                    self.route(f"DELETE FROM {name}")
            return self._empty_status(txn="COMMIT")
        if head in ("ROLLBACK", "ABORT"):
            staged, self._txn = self._txn, None
            staged_dyn, self._txn_dyn = self._txn_dyn, None
            self._txn_save = []
            self._txn_reseed = []  # staged reseeds die with the txn
            # transactional type DDL: restore the BEGIN-time metadata
            # BEFORE _drop_created runs (created tables' entries are
            # absent from the snapshot either way)
            if self._txn_meta is not None:
                self._restore_type_meta(self._txn_meta)
                self._txn_meta = None
            # ON COMMIT DROP tables die with the rolled-back creating
            # txn via _drop_created; nothing left to fire at any commit
            self._txn_temp_drop = []
            # PG removes every cursor the ABORTED transaction created —
            # WITH HOLD included (holdability only survives COMMIT; a
            # holdable cursor must not serve rolled-back staged data)
            self._pg_cursors = {
                n: c for n, c in self._pg_cursors.items()
                if c["holdable"] and not c["in_txn"]
            }
            for name in staged or {}:
                if name in self.tables:
                    self._register(self.tables[name])  # restore on-disk views
            for name in staged_dyn or {}:
                if name in self.dynamic:
                    self.dynamic[name].df().createOrReplaceTempView(name)
                # the discarded pinned batches are unreachable now — free
                # their block-manager storage instead of waiting for GC
                # (ADVICE r8: staged dynamic batches leaked on ROLLBACK)
                for b in staged_dyn[name]:
                    self._release_staged(b)
            # transactional DDL: tables created inside the txn are discarded
            created, self._txn_created = self._txn_created, []
            self._drop_created(created)
            return self._empty_status(txn="ROLLBACK")

        # COPY (PG CopyStmt, reference parsenodes.h PARENTSTMTTYPE_COPY):
        # bulk file <-> table transfer. COPY t FROM 'path' reads the file
        # with the table's declared schema and funnels through the normal
        # INSERT path (defaults, constraints, txn staging all apply — as
        # in PG, COPY is just fast INSERT). COPY t/(query) TO 'path'
        # writes a parquet/csv/json DIRECTORY: on Spark the sink is
        # partition-parallel by design; a 100 TB export must fan out, so
        # the single-file contract is deliberately not emulated.
        m = _COPY_STMT.match(sql)
        if m:
            return self._copy(m)

        # COMMENT ON <obj> <name> IS 'text' | NULL (PG CommentStmt ->
        # pg_description rows; IS NULL removes). COLUMN comments resolve
        # the attnum against the live schema so the pg_description join
        # through pg_attribute works.
        m = re.match(
            r"^\s*COMMENT\s+ON\s+"
            r"(TABLE|VIEW|MATERIALIZED\s+VIEW|COLUMN|SEQUENCE)\s+"
            r"([\w.]+)\s+IS\s+(?:'((?:[^']|'')*)'|(NULL))\s*;?\s*$",
            sql, re.IGNORECASE,
        )
        if m:
            objkind = re.sub(r"\s+", " ", m.group(1).upper())
            target, text = m.group(2), m.group(3)
            if text is not None:
                text = text.replace("''", "'")
            if objkind == "COLUMN":
                tname, _, col = target.rpartition(".")
                tname = tname.replace(".", "__")
                if tname in self.tables:
                    kind, cols = "r", self.tables[tname].df().columns
                elif tname in self.dynamic:
                    kind, cols = "g", self.dynamic[tname].df().columns
                else:
                    raise ValueError(f"unknown table: {tname}")
                if col not in cols:
                    raise ValueError(
                        f'column "{col}" of relation "{tname}" does '
                        "not exist"
                    )
                key = (kind, tname, cols.index(col) + 1)
            else:
                kind_map = {
                    "TABLE": ("r", self.tables),
                    "VIEW": ("v", self.views),
                    "MATERIALIZED VIEW": ("m", self.matviews),
                    "SEQUENCE": ("S", self.sequences),
                }
                kind, pool = kind_map[objkind]
                if target not in pool and (
                    objkind != "TABLE" or target not in self.dynamic
                ):
                    raise ValueError(
                        f"unknown {objkind.lower()}: {target}"
                    )
                if objkind == "TABLE" and target in self.dynamic:
                    kind = "g"
                key = (kind, target, 0)
            if text is None:
                self.comments.pop(key, None)
            else:
                self.comments[key] = text
            return self._empty_status(commented=target)

        # CREATE INDEX: no-op accept — Spark has no user indexes; parquet
        # min/max + bucketing play the role (SURVEY.md §2.1)
        if re.match(r"^\s*CREATE\s+(UNIQUE\s+)?INDEX\b", sql, re.IGNORECASE):
            return self._empty_status(created="index-noop")
        if re.match(r"^\s*DROP\s+INDEX\b", sql, re.IGNORECASE):
            return self._empty_status(dropped="index-noop")

        # VACUUM / CHECKPOINT: storage-maintenance no-ops on parquet (the
        # reference's operator_vacuum/operator_checkpoint manage its own
        # block store; a lake deployment maps these to OPTIMIZE/VACUUM)
        if re.match(r"^\s*(VACUUM|CHECKPOINT)\b", sql, re.IGNORECASE):
            return self._empty_status(ok="maintenance-noop")

        # ALTER TABLE t ADD/DROP CONSTRAINT (reference
        # test_correctness_bugs.cpp:430,502 — CHECK and FK through SQL)
        m = _ADD_CONSTRAINT.match(sql)
        if m:
            name, cname, body = m.groups()
            con = _parse_constraint_body(cname, body)
            batch = [con]
            if con.get("pk"):
                # PG: ADD PRIMARY KEY also imposes NOT NULL per column —
                # validated against existing rows like any ADD CONSTRAINT
                batch += [
                    {"kind": "check", "name": f"{k}_not_null",
                     "expr": f"{k} IS NOT NULL", "synthetic": True}
                    for k in con["cols"]
                ]
            # ATOMIC: if any part fails validation, none stays registered
            # (PG rolls the whole ALTER back; self-review r9)
            added = []
            try:
                for c in batch:
                    self._add_constraint(name, c)
                    added.append(c)
            except Exception:
                self.table_constraints[name] = [
                    x for x in self.table_constraints.get(name, [])
                    if not any(x is c for c in added)
                ]
                raise
            return self._empty_status(constraint=cname)
        m = _DROP_CONSTRAINT.match(sql)
        if m:
            name, cname = m.groups()
            self.table_constraints[name] = [
                c for c in self.table_constraints.get(name, []) if c["name"] != cname
            ]
            return self._empty_status(dropped=cname)

        # ALTER TABLE t RENAME TO t2 (reference transform_rename.cpp):
        # physical directory move + catalog metadata relocation, FK
        # parents in other tables re-pointed
        m = re.match(
            r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+RENAME\s+TO\s+([\w.]+)"
            r"\s*;?\s*$",
            sql, re.IGNORECASE,
        )
        if m:
            old, new = m.group(1), m.group(2)
            if self._txn is not None:
                # a physical-directory rename cannot participate in the
                # staged-frame transaction model (COMMIT would drop the
                # staged DML keyed by the old name; ROLLBACK could not
                # undo the move) — refuse instead of losing data. PG's
                # transactional rename is the table-format (Delta) seam.
                raise ValueError(
                    "ALTER TABLE RENAME inside a transaction is not "
                    "supported (plain-parquet directory rename is not "
                    "transactional)"
                )
            if (
                new in self.tables or new in self.dynamic
                or new in self.views or new in self.matviews
            ):
                raise ValueError(f'relation "{new}" already exists')
            dep = [
                v for v, body in list(self.views.items())
                + list(self.matview_sql.items())
                if re.search(rf"\b{re.escape(old)}\b", body)
            ]
            if dep:
                # a view's stored SQL binds by NAME; after the rename it
                # would either fail or read a stale frozen listing —
                # RESTRICT like PG does for DROP with dependents.
                # Materialized views included (ADVICE r10): their stored
                # SQL drives REFRESH, which would break or read a
                # different table if the old name were reused.
                raise ValueError(
                    f"cannot rename {old}: view(s) {dep} depend on it "
                    "(drop or recreate them first)"
                )
            if old in self.tables:
                table = self.tables.pop(old)
                new_path = os.path.join(
                    self.base_dir, new.replace(".", "__")
                )
                os.rename(table.path, new_path)
                table.path, table.name = new_path, new
                self.spark.catalog.dropTempView(old)
                self._register(table)
            elif old in self.dynamic:
                dyn = self.dynamic.pop(old)
                new_path = os.path.join(
                    self.base_dir, "dyn__" + new.replace(".", "__")
                )
                os.rename(dyn.path, new_path)
                dyn.path = new_path
                self.dynamic[new] = dyn
                self.spark.catalog.dropTempView(old)
                dyn.df().createOrReplaceTempView(new)
            else:
                raise ValueError(f"unknown table: {old}")
            for d in (self.table_constraints, self.table_defaults,
                      self.identity_cols, self.identity_always,
                      self.enum_uses, self.domain_uses, self.temp_tables,
                      self.generated_cols):
                # enum_uses/domain_uses/temp_tables relocate with the
                # table too (ADVICE r12): otherwise ALTER TYPE/DOMAIN
                # propagates under the stale old name and a renamed TEMP
                # table loses temp status on reopen
                if old in d:
                    d[new] = d.pop(old)
            self.comments = {
                (k, new if (n == old and k in ("r", "g")) else n, s): t
                for (k, n, s), t in self.comments.items()
            }
            for cons in self.table_constraints.values():
                for c in cons:
                    if c.get("kind") == "fk" and c.get("parent") == old:
                        c["parent"] = new
            return self._empty_status(renamed=new)

        # ALTER TABLE t ADD COLUMN c type GENERATED ALWAYS AS (expr) STORED:
        # existing rows backfill from the expression (PG rewrites the
        # table); future writes recompute via the write-path hook
        m = re.match(
            r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+COLUMN\s+(\w+)\s+"
            r"([\w()]+)\s+GENERATED\s+ALWAYS\s+AS\s*\((.+)\)\s*STORED\s*$",
            sql, re.IGNORECASE | re.DOTALL,
        )
        if m and m.group(1) in self.tables:
            self._refuse_txn_column_ddl("ALTER TABLE ADD COLUMN")
            name, col, dtype, gexpr = m.groups()
            if m.group(4).count("(") != m.group(4).count(")"):
                raise ValueError(f"unbalanced generation expression: {gexpr!r}")
            table = self.tables[name]
            gexpr = gexpr.strip()
            for o in self.generated_cols.get(name, {}):
                if re.search(rf"\b{re.escape(o)}\b", gexpr):
                    raise ValueError(
                        f'cannot use generated column "{o}" in '
                        f'generation expression of "{col}"'
                    )
            ddl = _pg_type_to_ddl(dtype, self.types)
            table.add_column(col, ddl, F.expr(gexpr).cast(ddl))
            self.generated_cols.setdefault(name, {})[col] = gexpr
            self._register(table)
            return self._empty_status(added=col)

        # ALTER TABLE t ALTER COLUMN c DROP EXPRESSION: the column keeps
        # its current stored values and becomes an ordinary column (PG)
        m = re.match(
            r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+ALTER\s+COLUMN\s+(\w+)\s+"
            r"DROP\s+EXPRESSION\s*$",
            sql, re.IGNORECASE,
        )
        if m and m.group(1) in self.tables:
            name, col = m.group(1), m.group(2)
            gen = self.generated_cols.get(name, {})
            if col not in gen:
                raise ValueError(
                    f'column "{col}" of relation "{name}" is not a '
                    "stored generated column"
                )
            del gen[col]
            if not gen:
                del self.generated_cols[name]
            return self._empty_status(altered=col)

        # ALTER TABLE t ADD COLUMN c type / RENAME COLUMN a TO b / DROP COLUMN c
        m = re.match(
            r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+COLUMN\s+(\w+)\s+([\w()]+)"
            r"(?:\s+DEFAULT\s+(.+?))?\s*$",
            sql, re.IGNORECASE | re.DOTALL,
        )
        if m and m.group(1) in self.tables:
            self._refuse_txn_column_ddl("ALTER TABLE ADD COLUMN")
            name, col, dtype, dflt = m.groups()
            table = self.tables[name]
            # user-defined types resolve exactly as in typed CREATE:
            # enum -> string (+ label CHECK), composite -> struct,
            # domain -> base type (+ instantiated domain constraints,
            # default and dependency record)
            base_t = dtype.strip().lower()
            ct = self.types.get(re.sub(r"\(.*\)$", "", base_t).strip())
            ddl = _pg_type_to_ddl(dtype, self.types)
            new_cons: list[dict] = []
            if ct and ct["kind"] == "domain":
                for chk in ct["checks"]:
                    new_cons.append(_domain_check_con(col, base_t, chk))
                if ct["not_null"]:
                    # PG refuses ADD COLUMN NOT NULL without a default on
                    # a non-empty table — the validation below raises on
                    # the NULL backfill the same way
                    new_cons.append(_domain_notnull_con(col, base_t))
                if dflt is None and ct["default"] is not None:
                    dflt = ct["default"]
            elif ct and ct["kind"] == "enum":
                new_cons.append(_enum_check_con(col, ct["labels"]))
            if dflt:
                # PG: ADD COLUMN ... DEFAULT backfills EXISTING rows with
                # the default and records it for future INSERTs; a
                # sequence default backfills per-row values (PG rewrites
                # the table the same way for volatile defaults)
                dflt = dflt.strip()
                table.add_column(
                    col, ddl,
                    default=self._default_expr(
                        dflt, table.df(), {}
                    ).cast(ddl),
                )
                self.table_defaults.setdefault(name, {})[col] = dflt
            else:
                table.add_column(col, ddl)
            self._register(table)
            # instantiate AFTER the column lands so _add_constraint
            # validates the backfilled rows; a violation (e.g. domain
            # NOT NULL over a NULL backfill) rolls the column back out
            if new_cons:
                added: list[dict] = []
                try:
                    for con in new_cons:
                        self._add_constraint(name, con)
                        added.append(con)
                except Exception:
                    self.table_constraints[name] = [
                        c for c in self.table_constraints.get(name, [])
                        if not any(c is a for a in added)
                    ]
                    table.drop_column(col)
                    self.table_defaults.get(name, {}).pop(col, None)
                    self._register(table)
                    raise
            if ct and ct["kind"] == "domain":
                self.domain_uses.setdefault(name, {}).setdefault(
                    base_t, []).append(col)
            elif ct and ct["kind"] == "enum":
                self.enum_uses.setdefault(name, {}).setdefault(
                    base_t, []).append(col)
            return self._empty_status(added=col)
        # ALTER TABLE t ALTER [COLUMN] c TYPE type [USING expr] — PG's
        # column rewrite (parsenodes AT_AlterColumnType): the whole column
        # converts, failing loudly when a value cannot (ManagedTable
        # validates; Spark's silent cast-to-NULL never reaches the swap)
        m = re.match(
            r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+ALTER\s+(?:COLUMN\s+)?(\w+)\s+"
            r"(?:SET\s+DATA\s+)?TYPE\s+([\w()\s,]+?)"
            r"(?:\s+USING\s+(.+?))?\s*$",
            sql, re.IGNORECASE | re.DOTALL,
        )
        if m and m.group(1) in self.tables:
            self._refuse_txn_column_ddl("ALTER TABLE ALTER COLUMN TYPE")
            name, col, dtype, using = m.groups()
            table = self.tables[name]
            table.alter_column_type(
                col, dtype.strip(),
                using=F.expr(using) if using else None,
            )
            self._register(table)
            return self._empty_status(altered=col)
        # ALTER TABLE t ALTER [COLUMN] c SET DEFAULT expr / DROP DEFAULT
        m = re.match(
            r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+ALTER\s+(?:COLUMN\s+)?(\w+)\s+"
            r"(?:SET\s+DEFAULT\s+(.+?)|DROP\s+DEFAULT)\s*$",
            sql, re.IGNORECASE | re.DOTALL,
        )
        if m and m.group(1) in self.tables:
            name, col, dflt = m.groups()
            if dflt is not None:
                dflt = dflt.strip()
                # validate now (CREATE-time discipline): sequence calls
                # are peeked without consuming
                peek = re.sub(
                    r"\b(?:nextval|currval)\s*\(\s*'([\w.]+)'\s*\)",
                    lambda mm: str(
                        self.sequences.get(mm.group(1).replace(".", "__"), 0)
                    ),
                    dflt, flags=re.IGNORECASE,
                )
                self.spark.sql(f"SELECT {peek}").collect()
                self.table_defaults.setdefault(name, {})[col] = dflt
            else:
                self.table_defaults.get(name, {}).pop(col, None)
            return self._empty_status(altered=col)
        m = re.match(
            r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)\s*$",
            sql, re.IGNORECASE,
        )
        if m and m.group(1) in self.tables:
            self._refuse_txn_column_ddl("ALTER TABLE RENAME COLUMN")
            table = self.tables[m.group(1)]
            table.rename_column(m.group(2), m.group(3))
            self._column_gone(m.group(1), m.group(2), m.group(3))
            self._register(table)
            return self._empty_status(renamed=m.group(3))
        m = re.match(
            r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+COLUMN\s+(\w+)\s*$",
            sql, re.IGNORECASE,
        )
        if m and m.group(1) in self.tables:
            self._refuse_txn_column_ddl("ALTER TABLE DROP COLUMN")
            table = self.tables[m.group(1)]
            dep = [
                g for g, e in self.generated_cols.get(m.group(1), {}).items()
                if g != m.group(2)
                and re.search(rf"\b{re.escape(m.group(2))}\b", e)
            ]
            if dep:
                # PG dependency refusal: the generation expression would
                # dangle (DROP ... CASCADE would drop the generated
                # column too; plain DROP refuses)
                raise ValueError(
                    f'cannot drop column {m.group(2)} of table '
                    f'{m.group(1)}: generated column "{dep[0]}" '
                    "depends on it"
                )
            table.drop_column(m.group(2))
            self._column_gone(m.group(1), m.group(2), None)
            self._register(table)
            return self._empty_status(dropped=m.group(2))

        # CREATE [OR REPLACE] VIEW: session-scoped logical view, re-resolved
        # per query (reference executor.cpp view path); CREATE MATERIALIZED
        # VIEW: parquet-backed snapshot with explicit REFRESH
        # (reference operator_create_matview.cpp / node_create_matview.hpp)
        m = _CREATE_MATVIEW.match(sql)
        if m:
            name, body = m.group(1), m.group(2)
            path = os.path.join(self.base_dir, "mv__" + name.replace(".", "__"))
            mv = MaterializedView(self.spark, path, lambda b=body: self.spark.sql(b))
            self.matviews[name] = mv
            self.matview_sql[name] = body
            mv.df().createOrReplaceTempView(name)
            return self._empty_status(created=name)

        m = _REFRESH_MATVIEW.match(sql)
        if m:
            name = m.group(1)
            if name not in self.matviews:
                raise ValueError(f"unknown materialized view: {name}")
            if self._txn is not None:
                # the refresh would physically materialise STAGED
                # (uncommitted) rows into the matview's parquet dir, and
                # ROLLBACK could not take them back out — refuse, like
                # the other physically-immediate DDL (PG's REFRESH is
                # transactional; the table-format seam is where that
                # lands here; self-review r13 pass 2)
                raise ValueError(
                    "REFRESH MATERIALIZED VIEW inside a transaction is "
                    "not supported (the matview write is not "
                    "transactional and would capture uncommitted rows)"
                )
            self.matviews[name].refresh()
            self.matviews[name].df().createOrReplaceTempView(name)
            return self._empty_status(refreshed=name)

        m = _DROP_VIEW.match(sql)
        if m:
            materialized, name = m.group(1), m.group(2)
            if materialized and name in self.matviews:
                self.matviews.pop(name).table.drop()
                self.matview_sql.pop(name, None)
            self.views.pop(name, None)
            # a dropped view can never be refreshed again — clear its
            # stale-tracking entry too (self-review r11)
            self.stale_views.pop(name, None)
            dropped_kinds = ("v", "m") if materialized else ("v",)
            self.comments = {
                k: t for k, t in self.comments.items()
                if not (k[1] == name and k[0] in dropped_kinds)
            }
            self.spark.catalog.dropTempView(name)
            return self._empty_status(dropped=name)

        m = _CREATE_VIEW.match(sql)
        if m:
            name, body = m.group(1), m.group(2)
            self.spark.sql(body).createOrReplaceTempView(name)
            self.views[name] = body
            return self._empty_status(created=name)

        # CREATE FUNCTION (reference transform_macro.cpp: SQL-body macros,
        # persisted as pg_proc rows by operator_register_udf.cpp —
        # definitions land in _functions.json and survive engine restarts)
        m = _CREATE_FUNCTION.match(sql)
        if m:
            name, raw_params, returns, body_lit, ret_expr = m.groups()
            params, names = [], []
            for part in _split_top_level(raw_params):
                words = part.strip().split(None, 1)
                if not words:
                    continue
                pname = words[0]
                ptype = _pg_type_to_ddl(words[1], self.types) if len(words) > 1 else "double"
                params.append(f"{pname} {ptype}")
                names.append(pname)
            expr = _macro_expr(body_lit, ret_expr, names)
            self._register_function(
                name, params, _pg_type_to_ddl(returns, self.types), expr
            )
            self._save_functions()
            return self._empty_status(created=name)
        m = _DROP_FUNCTION.match(sql)
        if m:
            name = m.group(1)
            if self.functions.pop(name, None) is not None:
                self.spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {name}")
                self._save_functions()
            return self._empty_status(dropped=name)

        # CREATE TYPE (reference T_CreateEnumStmt / T_CompositeTypeStmt,
        # transformer.cpp:75-80; test_collection_sql.cpp:668-684): enum ->
        # string column + generated CHECK on its labels; composite ->
        # struct<...>, resolved recursively in typed CREATE TABLE columns
        m = re.match(
            r"^\s*CREATE\s+TYPE\s+([\w.]+)\s+AS\s+ENUM\s*\(\s*(.*?)\s*\)\s*$",
            sql, re.IGNORECASE | re.DOTALL,
        )
        if m:
            name = m.group(1).lower()
            labels = [
                lbl.strip().strip("'") for lbl in _split_top_level(m.group(2))
            ]
            self.types[name] = {"kind": "enum", "labels": labels}
            return self._empty_status(created=name)
        m = re.match(
            r"^\s*CREATE\s+TYPE\s+([\w.]+)\s+AS\s*\((.*)\)\s*$",
            sql, re.IGNORECASE | re.DOTALL,
        )
        if m:
            name = m.group(1).lower()
            fields = []
            for part in _split_top_level(m.group(2)):
                words = part.strip().split(None, 1)
                if len(words) != 2:
                    raise ValueError(f"bad composite field: {part!r}")
                fields.append((words[0], words[1]))
            # resolve now so unknown member types fail at CREATE TYPE time
            for _, ft in fields:
                _pg_type_to_ddl(ft, self.types)
            self.types[name] = {"kind": "composite", "fields": fields}
            return self._empty_status(created=name)
        m = re.match(
            r"^\s*DROP\s+TYPE\s+(?:IF\s+EXISTS\s+)?([\w.]+)\s*$", sql, re.IGNORECASE
        )
        if m:
            tname = m.group(1).lower()
            # PG refuses to drop a type a live table column depends on.
            # DROP TYPE is PG's generic spelling — it drops domains too,
            # so dispatch the dependency check on the type's ACTUAL kind
            # (ADVICE r12: consulting only enum_uses let `DROP TYPE
            # somedomain` remove an in-use domain)
            kind = (self.types.get(tname) or {}).get("kind")
            dep_map = self.domain_uses if kind == "domain" else self.enum_uses
            used_by = sorted(t for t, per in dep_map.items() if tname in per)
            if used_by:
                raise ValueError(
                    f'cannot drop type {tname}: table "{used_by[0]}" '
                    "column(s) depend on it"
                )
            self.types.pop(tname, None)
            return self._empty_status(dropped=m.group(1))

        # ALTER TYPE (PG AlterEnumStmt): ADD VALUE extends the label set
        # (BEFORE/AFTER positions honoured) and REWRITES every dependent
        # column's generated label CHECK; RENAME VALUE additionally
        # rewrites the STORED rows (PG enum cells are oids, so a rename
        # changes what every existing row reads back as — here the
        # materialised strings update to match).
        m = re.match(
            r"^\s*ALTER\s+TYPE\s+([\w.]+)\s+ADD\s+VALUE\s+"
            r"(IF\s+NOT\s+EXISTS\s+)?'([^']+)'"
            r"(?:\s+(BEFORE|AFTER)\s+'([^']+)')?\s*$",
            sql, re.IGNORECASE,
        )
        if m:
            tname = m.group(1).lower()
            et = self.types.get(tname)
            if et is None or et.get("kind") != "enum":
                raise ValueError(f'type "{tname}" is not an enum')
            new_lbl = m.group(3)
            if new_lbl in et["labels"]:
                if m.group(2):
                    return self._empty_status(added=new_lbl)
                raise ValueError(
                    f'enum label "{new_lbl}" already exists in {tname}'
                )
            if m.group(4):
                anchor = m.group(5)
                if anchor not in et["labels"]:
                    raise ValueError(
                        f'enum label "{anchor}" does not exist in {tname}'
                    )
                at = et["labels"].index(anchor)
                at = at if m.group(4).upper() == "BEFORE" else at + 1
                et["labels"].insert(at, new_lbl)
            else:
                et["labels"].append(new_lbl)
            self._rewrite_enum_checks(tname)
            return self._empty_status(added=new_lbl)
        m = re.match(
            r"^\s*ALTER\s+TYPE\s+([\w.]+)\s+RENAME\s+VALUE\s+"
            r"'([^']+)'\s+TO\s+'([^']+)'\s*$",
            sql, re.IGNORECASE,
        )
        if m:
            tname = m.group(1).lower()
            et = self.types.get(tname)
            if et is None or et.get("kind") != "enum":
                raise ValueError(f'type "{tname}" is not an enum')
            old_lbl, new_lbl = m.group(2), m.group(3)
            if old_lbl not in et["labels"]:
                raise ValueError(
                    f'enum label "{old_lbl}" does not exist in {tname}'
                )
            if new_lbl in et["labels"]:
                raise ValueError(
                    f'enum label "{new_lbl}" already exists in {tname}'
                )
            et["labels"] = [
                new_lbl if lbl == old_lbl else lbl for lbl in et["labels"]
            ]
            self._rewrite_enum_checks(tname)
            # Rows store the LABEL (strings over parquet), so a rename is
            # O(#dependent tables) full rewrites via per-table UPDATEs —
            # correct and label-regex-bounded, but where PG (oid cells)
            # and a Delta/Iceberg backing would make this a pure metadata
            # operation. Acceptable at this engine's scale posture; the
            # table-format seam is where a 100 TB deployment fixes it.
            oq = old_lbl.replace("'", "''")
            nq = new_lbl.replace("'", "''")
            for t, per in self.enum_uses.items():
                for col in per.get(tname, []):
                    self.route(
                        f"UPDATE {t} SET {col} = '{nq}' "
                        f"WHERE {col} = '{oq}'"
                    )
            return self._empty_status(renamed=new_lbl)

        # CREATE DOMAIN (PG CreateDomainStmt; the parser family the
        # reference embeds — primnodes.h CoerceToDomain): a named scalar
        # type = base type + optional DEFAULT / NOT NULL / CHECK(VALUE
        # ...) constraints. Columns declared with the domain store as the
        # BASE type; the domain's constraints are instantiated per column
        # at CREATE TABLE (VALUE -> column name), enforced by the same
        # CHECK machinery as every table constraint. Scope: domains as
        # column types; ::domain casts in expressions are out of scope
        # (Spark has no runtime coercion hook), documented divergence.
        m = re.match(
            r"^\s*CREATE\s+DOMAIN\s+([\w.]+)\s+(?:AS\s+)?(.+?)\s*;?\s*$",
            sql, re.IGNORECASE | re.DOTALL,
        )
        if m:
            name, tail = m.group(1).lower(), m.group(2).strip()
            if name in self.types:
                raise ValueError(f'type "{name}" already exists')
            # base type = leading tokens up to the first constraint
            # keyword at top level
            mb = re.match(
                r"^(.*?)(?=\s+(?:DEFAULT|CONSTRAINT|CHECK|NOT\s+NULL"
                r"|NULL)\b|\s*$)",
                tail, re.IGNORECASE | re.DOTALL,
            )
            base = mb.group(1).strip()
            if not base:
                raise ValueError(f"bad CREATE DOMAIN statement: {sql!r}")
            _pg_type_to_ddl(base, self.types)  # unknown base fails NOW
            rest = tail[mb.end():].strip()
            default, not_null = None, False
            checks: list[dict] = []
            while rest:
                mc = re.match(r"^NOT\s+NULL\b", rest, re.IGNORECASE)
                if mc:
                    not_null, rest = True, rest[mc.end():].lstrip()
                    continue
                mc = re.match(r"^NULL\b", rest, re.IGNORECASE)
                if mc:
                    not_null, rest = False, rest[mc.end():].lstrip()
                    continue
                mc = re.match(
                    r"^(?:CONSTRAINT\s+(\w+)\s+)?CHECK\s*\(",
                    rest, re.IGNORECASE,
                )
                if mc:
                    depth, i = 1, mc.end()
                    while i < len(rest) and depth:
                        depth += {"(": 1, ")": -1}.get(rest[i], 0)
                        i += 1
                    if depth:
                        raise ValueError(f"unbalanced CHECK in {sql!r}")
                    checks.append({
                        "name": (
                            mc.group(1).lower() if mc.group(1)
                            else f"{name}_check{len(checks) + 1}"
                        ),
                        "expr": rest[mc.end():i - 1].strip(),
                    })
                    rest = rest[i:].lstrip()
                    continue
                mc = re.match(
                    r"^DEFAULT\s+(.+?)"
                    r"(?=\s+(?:CONSTRAINT|CHECK|NOT\s+NULL|NULL)\b|\s*$)",
                    rest, re.IGNORECASE | re.DOTALL,
                )
                if mc:
                    default = mc.group(1).strip()
                    rest = rest[mc.end():].lstrip()
                    continue
                raise ValueError(
                    f"bad CREATE DOMAIN constraint clause: {rest!r}"
                )
            self.types[name] = {
                "kind": "domain", "base": base, "default": default,
                "not_null": not_null, "checks": checks,
            }
            return self._empty_status(created=name)

        m = re.match(
            r"^\s*DROP\s+DOMAIN\s+(?:IF\s+EXISTS\s+)?([\w.]+)"
            r"\s*(CASCADE|RESTRICT)?\s*$",
            sql, re.IGNORECASE,
        )
        if m:
            name = m.group(1).lower()
            # PG errors when DROP DOMAIN targets a non-domain type
            # (ADVICE r12: otherwise DROP DOMAIN someenum would drop an
            # in-use enum past the enum dependency check)
            t = self.types.get(name)
            if t is not None and t.get("kind") != "domain":
                raise ValueError(f'"{name}" is not a domain')
            # PG refuses to drop a domain a live table column depends on
            # (CASCADE would drop the COLUMN — out of scope, refused too:
            # the dependent columns are physical base-type columns here)
            used_by = sorted(
                t for t, cols in self.domain_uses.items() if name in cols
            )
            if used_by:
                raise ValueError(
                    f'cannot drop domain {name}: table "{used_by[0]}" '
                    "column(s) depend on it"
                )
            self.types.pop(name, None)
            return self._empty_status(dropped=name)

        # ALTER DOMAIN (PG AlterDomainStmt): constraint/default changes
        # PROPAGATE to every existing dependent column — ADD CONSTRAINT
        # and SET NOT NULL validate the dependents' existing rows first
        # (PG scans every column using the domain and refuses on a
        # violator), atomically across all dependents.
        m = re.match(
            r"^\s*ALTER\s+DOMAIN\s+([\w.]+)\s+(.+?)\s*;?\s*$",
            sql, re.IGNORECASE | re.DOTALL,
        )
        if m:
            name, action = m.group(1).lower(), m.group(2).strip()
            dom = self.types.get(name)
            if dom is None or dom.get("kind") != "domain":
                raise ValueError(f'domain "{name}" does not exist')

            def dependents():
                for t, per in self.domain_uses.items():
                    for col in per.get(name, []):
                        yield t, col

            def add_everywhere(make_con) -> None:
                # atomic across dependents: one violating table rolls
                # back every instantiation added by this statement
                added: list[tuple[str, dict]] = []
                try:
                    for t, col in dependents():
                        con = make_con(col)
                        self._add_constraint(t, con)
                        added.append((t, con))
                except Exception:
                    for t, con in added:
                        self.table_constraints[t] = [
                            c for c in self.table_constraints.get(t, [])
                            if c is not con
                        ]
                    raise

            ma = re.match(
                r"^ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.*)\)\s*$",
                action, re.IGNORECASE | re.DOTALL,
            )
            if ma:
                cname = ma.group(1).lower()
                if any(c["name"] == cname for c in dom["checks"]):
                    raise ValueError(
                        f'constraint "{cname}" for domain "{name}" '
                        "already exists"
                    )
                chk = {"name": cname, "expr": ma.group(2).strip()}
                add_everywhere(lambda col: _domain_check_con(col, name, chk))
                dom["checks"].append(chk)
                return self._empty_status(constraint=cname)
            ma = re.match(
                r"^DROP\s+CONSTRAINT\s+(IF\s+EXISTS\s+)?(\w+)\s*$",
                action, re.IGNORECASE,
            )
            if ma:
                cname = ma.group(2).lower()
                if not any(c["name"] == cname for c in dom["checks"]):
                    if not ma.group(1):
                        raise ValueError(
                            f'constraint "{cname}" of domain "{name}" '
                            "does not exist"
                        )
                    return self._empty_status(dropped=cname)
                dom["checks"] = [
                    c for c in dom["checks"] if c["name"] != cname
                ]
                for t, col in dependents():
                    self.table_constraints[t] = [
                        c for c in self.table_constraints.get(t, [])
                        if c["name"] != f"{col}_{cname}"
                    ]
                return self._empty_status(dropped=cname)
            if re.match(r"^SET\s+NOT\s+NULL\s*$", action, re.IGNORECASE):
                if not dom["not_null"]:  # PG: already-set is a no-op —
                    # re-instantiating would duplicate the checks
                    add_everywhere(
                        lambda col: _domain_notnull_con(col, name))
                    dom["not_null"] = True
                return self._empty_status(altered=name)
            if re.match(r"^DROP\s+NOT\s+NULL\s*$", action, re.IGNORECASE):
                dom["not_null"] = False
                for t, col in dependents():
                    self.table_constraints[t] = [
                        c for c in self.table_constraints.get(t, [])
                        if c["name"] != f"{col}_{name}_not_null"
                    ]
                return self._empty_status(altered=name)
            ma = re.match(
                r"^SET\s+DEFAULT\s+(.+)$", action, re.IGNORECASE | re.DOTALL
            )
            if ma or re.match(r"^DROP\s+DEFAULT\s*$", action, re.IGNORECASE):
                new_default = ma.group(1).strip() if ma else None
                old_default = dom.get("default")
                # PG resolves the domain default at INSERT time; here it
                # was materialised per column at CREATE TABLE, so the
                # alter re-points every dependent column whose default
                # still IS the domain's (a column-level override wins
                # and is left alone)
                for t, col in dependents():
                    d = self.table_defaults.setdefault(t, {})
                    if d.get(col) == old_default:
                        if new_default is None:
                            d.pop(col, None)
                        else:
                            d[col] = new_default
                dom["default"] = new_default
                return self._empty_status(altered=name)
            raise ValueError(f"unsupported ALTER DOMAIN action: {action!r}")

        # sequences: CREATE/DROP SEQUENCE, and statement-level nextval /
        # currval substitution (each nextval() occurrence consumes one
        # value — covers INSERT VALUES and SELECT nextval; per-row
        # evaluation over a large SELECT is with_sequence's job)
        m = re.match(
            r"^\s*CREATE\s+SEQUENCE\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)"
            r"(?:\s+START\s+(?:WITH\s+)?(-?\d+))?"
            r"(?:\s+INCREMENT\s+(?:BY\s+)?(-?\d+))?\s*$",
            sql, re.IGNORECASE,
        )
        if m:
            name, start = m.group(1), int(m.group(2) or 1)
            self.sequences.setdefault(name, start)
            self._seq_step[name] = int(m.group(3) or 1)
            self._seq_start.setdefault(name, start)
            return self._empty_status(created=name)
        m = re.match(r"^\s*DROP\s+SEQUENCE\s+(?:IF\s+EXISTS\s+)?(\w+)\s*$", sql, re.IGNORECASE)
        if m:
            sname = m.group(1)
            # PG refuses to drop a sequence an identity column owns
            # ("cannot drop ... because ... column requires it")
            for t, idmap in self.identity_cols.items():
                for c, s in idmap.items():
                    if s == sname:
                        raise ValueError(
                            f"cannot drop sequence {sname}: table "
                            f'"{t}" column "{c}" requires it (identity)'
                        )
            self.sequences.pop(sname, None)
            self._seq_last.pop(sname, None)
            # a re-created same-name sequence must not inherit the old
            # start/step (setdefault in CREATE) nor its comment (session
            # oid resurrection) — r11 loops 2+3
            self._seq_start.pop(sname, None)
            self._seq_step.pop(sname, None)
            self.comments.pop(("S", sname, 0), None)
            return self._empty_status(dropped=sname)
        _stores_expr_ddl = re.match(
            r"^\s*(?:CREATE\s+(?:(?:GLOBAL\s+|LOCAL\s+)?TEMP(?:ORARY)?\s+)?"
            r"TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?[\w.]+\s*\(|ALTER\s+TABLE\b"
            r"|CREATE\s+DOMAIN\b)",
            sql, re.IGNORECASE,
        )
        if (
            re.search(r"\b(nextval|currval)\s*\(", sql, re.IGNORECASE)
            and not _stores_expr_ddl
        ):
            # per-row nextval: INSERT ... SELECT nextval('s'), ... FROM src
            # assigns a DISTINCT value per source row (PG sequence
            # semantics), not one statement-level constant. Lowered to a
            # row_number window; the sequence advances by the inserted row
            # count. PG's nextval is itself a serialised counter, so the
            # single-partition window mirrors its semantics — the scale
            # path for bulk id assignment is with_sequence's
            # partition-offset renumbering (operators/dml.py).
            per_row = re.match(
                r"^\s*INSERT\s+INTO\s+[\w.]+\s+(?:\([^)]*\)\s*)?SELECT\b",
                sql, re.IGNORECASE,
            ) and re.search(r"\bFROM\b", sql, re.IGNORECASE)
            if per_row and re.search(r"\bnextval\s*\(", sql, re.IGNORECASE):
                used: list[str] = []

                def sub_row(mm: re.Match) -> str:
                    name = mm.group(1).replace(".", "__")
                    if name not in self.sequences:
                        raise ValueError(f"unknown sequence: {name}")
                    used.append(name)
                    start = self.sequences[name]
                    step = self._seq_step.get(name, 1)
                    return (
                        f"({start} + (ROW_NUMBER() OVER "
                        f"(ORDER BY monotonically_increasing_id()) - 1) * {step})"
                    )

                rewritten = re.sub(
                    r"\bnextval\s*\(\s*'([\w.]+)'\s*\)", sub_row, sql,
                    flags=re.IGNORECASE,
                )
                result = self.route(rewritten)
                n = result.collect()[0][0] if result.columns == ["inserted"] else result.count()
                for name in set(used):
                    step = self._seq_step.get(name, 1)
                    self.sequences[name] += int(n) * step
                    self._seq_last[name] = self.sequences[name] - step
                return result

            def sub_seq(mm: re.Match) -> str:
                # sequence names live inside string literals, which
                # canonicalize() protects — normalise db.seq here instead
                fn = mm.group(1).lower()
                name = mm.group(2).replace(".", "__")
                if name not in self.sequences:
                    raise ValueError(f"unknown sequence: {name}")
                value = self.sequences[name]
                if fn == "nextval":
                    self.sequences[name] = value + self._seq_step.get(name, 1)
                    self._seq_last[name] = value
                    return str(value)
                if name not in self._seq_last:
                    raise ValueError(
                        f"currval of sequence \"{name}\" is not yet defined"
                    )
                return str(self._seq_last[name])

            sql = re.sub(
                r"\b(nextval|currval)\s*\(\s*'([\w.]+)'\s*\)", sub_seq, sql,
                flags=re.IGNORECASE,
            )
            return self.route(sql)

        # PG temporary tables: CREATE [GLOBAL|LOCAL] TEMP[ORARY] TABLE ...
        # [ON COMMIT {PRESERVE ROWS | DELETE ROWS | DROP}]. The table is
        # created through the ordinary CREATE TABLE paths (typed / CTAS /
        # LIKE / dynamic all work), then marked session-scoped: excluded
        # from reopen discovery (the reopened engine REMOVES the leftover
        # directory, PG's orphaned-temp cleanup), truncated at every
        # COMMIT under DELETE ROWS, dropped at the creating transaction's
        # COMMIT under DROP (immediately when created outside a
        # transaction block — PG's implicit single-statement commit).
        # GLOBAL/LOCAL are noise words in PG; accepted and ignored here
        # the same way.
        m = re.match(
            r"^\s*CREATE\s+(?:GLOBAL\s+|LOCAL\s+)?TEMP(?:ORARY)?\s+TABLE\s+"
            r"(.*)$",
            sql, re.IGNORECASE | re.DOTALL,
        )
        if m:
            rest = m.group(1).rstrip().rstrip(";")
            on_commit = "preserve"
            mc = re.search(
                r"\s+ON\s+COMMIT\s+(PRESERVE\s+ROWS|DELETE\s+ROWS|DROP)\s*$",
                rest, re.IGNORECASE,
            )
            if mc:
                on_commit = {
                    "PRESERVE ROWS": "preserve",
                    "DELETE ROWS": "delete",
                    "DROP": "drop",
                }[re.sub(r"\s+", " ", mc.group(1).upper())]
                rest = rest[: mc.start()]
            mn = re.match(r"^(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)", rest)
            if not mn:
                raise ValueError(f"bad CREATE TEMP TABLE statement: {sql!r}")
            # db.table already canonicalized to db__table upstream (the
            # same convention every CREATE path in this method relies on)
            name = mn.group(1)
            # let the typed-create FK check know the new table WILL be
            # temp (the mark lands only after the inner route returns)
            self._creating_temp = name
            try:
                result = self.route("CREATE TABLE " + rest)
            finally:
                self._creating_temp = None
            if on_commit == "drop":
                if self._txn is not None:
                    self._txn_temp_drop.append(name)
                    self.temp_tables[name] = "preserve"
                else:
                    # PG outside a txn block: the implicit commit fires
                    # immediately, so the table is created and dropped in
                    # one statement — deliberate parity, not a bug
                    self.route(f"DROP TABLE {name}")
                return result
            self.temp_tables[name] = on_commit
            return result

        m = _CREATE_DATABASE.match(sql)
        if m:
            # reference CREATE DATABASE scopes collections as db.table;
            # registering the name arms canonicalize()'s db.table ->
            # db__table rewrite for every later statement
            verb, name = m.group(1).lower(), m.group(2)
            if verb == "create":
                self.databases.add(name.lower())
            else:
                self.databases.discard(name.lower())
            return self._empty_status(**{verb: name})

        # declarative partitioning (PG PARTITION BY LIST/RANGE/HASH
        # lowered to hive-style directory partitioning): strip the tail
        # clause before the CREATE parsers and thread the columns through
        create_sql, part_cols = sql, None
        if re.match(r"^\s*CREATE\s+TABLE\b", sql, re.IGNORECASE):
            mp = _PARTITION_BY_TAIL.search(sql)
            if mp:
                create_sql = sql[: mp.start()]
                part_cols = [c.strip() for c in mp.group(1).split(",")]

        m = _CREATE_TABLE.match(create_sql)
        if m:
            name, body = m.group(1), m.group(2)
            source = self.spark.sql(body)
            path = os.path.join(self.base_dir, name.replace(".", "__"))
            table = ManagedTable.create(
                self.spark, path, source, name, partition_cols=part_cols
            )
            self._register(table)
            self._note_created(name)
            return self._empty_status(created=name)

        # CREATE TABLE new (LIKE src [INCLUDING DEFAULTS|CONSTRAINTS|ALL]...)
        # (PG TableLikeClause): copy the source's column definitions into a
        # new EMPTY managed table; INCLUDING DEFAULTS / CONSTRAINTS copy
        # the pg_attrdef / pg_constraint records too (PG copies neither by
        # default). Sources are managed tables (PG also accepts views —
        # out of scope, raises).
        m = _CREATE_TABLE_TYPED.match(sql)
        if m:
            mlike = re.match(
                r"^\s*LIKE\s+([\w.]+)\s*((?:INCLUDING\s+\w+\s*)*)\s*$",
                m.group(2).strip(), re.IGNORECASE,
            )
            if mlike is None and any(
                re.match(r"^\s*LIKE\b", seg, re.IGNORECASE)
                for seg in _split_top_level(m.group(2))
            ):
                # ANY top-level segment, not just the first: PG accepts
                # "CREATE TABLE t (extra bigint, LIKE src)" and that form
                # must raise here too, not misparse as a column named
                # LIKE. (Top-level split so "CHECK (x LIKE 'a%')" inside
                # a constraint never matches.)
                # a LIKE clause we can't parse (EXCLUDING ..., LIKE mixed
                # with column defs) must NOT fall through to the typed-
                # column parser — that would create a nonsense table with
                # a column literally named "LIKE"
                raise ValueError(
                    f"CREATE TABLE {m.group(1)}: unsupported LIKE clause "
                    f"{m.group(2).strip()!r} (only LIKE src [INCLUDING "
                    "DEFAULTS|CONSTRAINTS|ALL]... is supported)"
                )
        if m and mlike:
            name, src = m.group(1), mlike.group(1)
            including = {
                w.strip().lower()
                for w in re.findall(
                    r"INCLUDING\s+(\w+)", mlike.group(2) or "",
                    re.IGNORECASE,
                )
            }
            unknown = including - {
                "all", "defaults", "constraints", "generated",
            }
            if unknown:
                raise ValueError(
                    f"LIKE INCLUDING {sorted(unknown)[0].upper()}: only "
                    "DEFAULTS, CONSTRAINTS, GENERATED and ALL are "
                    "supported"
                )
            if src not in self.tables:
                raise ValueError(
                    f"CREATE TABLE (LIKE {src}): source must be a managed "
                    "table"
                )
            empty = self.spark.createDataFrame(
                [], self.tables[src].df().schema
            ).repartition(1)
            path = os.path.join(self.base_dir, name.replace(".", "__"))
            table = ManagedTable.create(self.spark, path, empty, name)
            self._register(table)
            if including & {"all", "defaults"}:
                dfl = self.table_defaults.get(src)
                if dfl:
                    self.table_defaults[name] = dict(dfl)
            # PG TableLikeClause: generation expressions copy only under
            # INCLUDING GENERATED/ALL; otherwise the column arrives as an
            # ordinary base column of the same type (PG default)
            if including & {"all", "generated"}:
                gsrc = self.generated_cols.get(src)
                if gsrc:
                    self.generated_cols[name] = dict(gsrc)
            # PG copies NOT NULL column constraints on a plain LIKE,
            # regardless of INCLUDING options (TableLikeClause docs) —
            # those are exactly the synthetic `<col>_not_null` records
            # (incl. PK-derived attnotnull). Only CHECK/UNIQUE/FK records
            # are gated behind INCLUDING CONSTRAINTS/ALL.
            want_all = bool(including & {"all", "constraints"})
            copied = [
                dict(c)
                for c in self.table_constraints.get(src, [])
                if want_all or c.get("synthetic")
            ]
            if copied:
                self.table_constraints[name] = copied
            self._note_created(name)
            return self._empty_status(created=name)

        m = _CREATE_TABLE_TYPED.match(sql)
        if m and not m.group(2).strip():
            # CREATE TABLE t (): dynamic-schema table, columns appear on
            # insert (reference JSONBench/otterbrix/jsonbench.cpp:238)
            from otterbrix_spark.sources.dynamic import DynamicTable

            name = m.group(1)
            path = os.path.join(self.base_dir, "dyn__" + name.replace(".", "__"))
            dyn = DynamicTable(self.spark, path)
            self.dynamic[name] = dyn
            dyn.df().createOrReplaceTempView(name)
            self._note_created(name)
            return self._empty_status(created=name)

        m = _CREATE_TABLE_TYPED.match(create_sql)
        if m and not m.group(2).strip().upper().startswith("SELECT"):
            name, coldefs = m.group(1), m.group(2)
            fields: list[str] = []
            cons: list[dict] = []
            defaults: dict[str, str] = {}
            # identity-column side-effects, committed only after the
            # CREATE validates (self-review r11 loop 2)
            identity_seqs: dict[str, int] = {}
            identity_new: dict[str, str] = {}
            identity_new_always: set[str] = set()
            generated_new: dict[str, str] = {}
            domains_used: dict[str, list] = {}
            enums_used: dict[str, list] = {}
            n_anon = 0
            for part in _split_top_level(coldefs):
                p = part.strip()
                # table-level constraint clauses
                mcn = re.match(
                    r"^CONSTRAINT\s+(\w+)\s+(.*)$", p, re.IGNORECASE | re.DOTALL
                )
                if mcn:
                    con = _parse_constraint_body(mcn.group(1), mcn.group(2))
                    cons.append(con)
                    if con.get("pk"):
                        # synthetic: PG models PK null-rejection as
                        # attnotnull, not a pg_constraint row
                        for k in con["cols"]:
                            cons.append({
                                "kind": "check", "name": f"{k}_not_null",
                                "expr": f"{k} IS NOT NULL",
                                "synthetic": True,
                            })
                    continue
                if re.match(r"^(CHECK|FOREIGN\s+KEY)\b", p, re.IGNORECASE):
                    n_anon += 1
                    cons.append(_parse_constraint_body(f"{name}_con{n_anon}", p))
                    continue
                mpk = re.match(
                    r"^(PRIMARY\s+KEY|UNIQUE)\s*\(\s*([\w\s,]+?)\s*\)$",
                    p, re.IGNORECASE,
                )
                if mpk:
                    keys = [k.strip() for k in mpk.group(2).split(",")]
                    is_pk = mpk.group(1).upper().startswith("P")
                    cname = f"{name}_" + ("pkey" if is_pk else "key")
                    cons.append({
                        "kind": "unique", "name": cname, "cols": keys,
                        "pk": is_pk,
                    })
                    if is_pk:
                        for k in keys:
                            cons.append({
                                "kind": "check", "name": f"{k}_not_null",
                                "expr": f"{k} IS NOT NULL",
                                "synthetic": True,
                            })
                    continue
                words = p.split(None, 1)
                if len(words) != 2:
                    raise ValueError(f"bad column definition: {part!r}")
                colname, rest = words
                # trailing column constraints: NOT NULL / CHECK / UNIQUE / PK
                while True:
                    mgen = re.search(
                        r"\s+GENERATED\s+ALWAYS\s+AS\s*\((.+)\)\s*STORED$",
                        rest, re.IGNORECASE | re.DOTALL,
                    )
                    if mgen and mgen.group(1).count("(") == mgen.group(1).count(")"):
                        # PG stored generated column (ColumnDef generated
                        # 's'): the expression recomputes from the row's
                        # other columns on every write; buffered like
                        # identity and committed only after the CREATE
                        # validates
                        rest = rest[: mgen.start()]
                        generated_new[colname] = mgen.group(1).strip()
                        continue
                    mid = re.search(
                        r"\s+GENERATED\s+(ALWAYS|BY\s+DEFAULT)\s+AS\s+"
                        r"IDENTITY(?:\s*\(\s*START\s+(?:WITH\s+)?(\d+)"
                        r"\s*\))?$",
                        rest, re.IGNORECASE,
                    )
                    if mid:
                        # PG identity columns (parsenodes ColumnDef
                        # identity): an implicit sequence backs the
                        # column default; ALWAYS additionally refuses
                        # explicit non-DEFAULT values on INSERT unless
                        # an OVERRIDING clause is given. Side-effects
                        # are BUFFERED like defaults and committed only
                        # after the CREATE validates — a failed CREATE
                        # must not leak sequences or reset a live one
                        # (self-review r11 loop 2)
                        rest = rest[: mid.start()]
                        seq = f"{name.replace('.', '__')}_{colname}_seq"
                        start = int(mid.group(2) or 1)
                        identity_seqs[seq] = start
                        defaults[colname] = f"nextval('{seq}')"
                        identity_new[colname] = seq
                        if mid.group(1).upper() == "ALWAYS":
                            identity_new_always.add(colname)
                        continue
                    mnn = re.search(r"\s+NOT\s+NULL$", rest, re.IGNORECASE)
                    if mnn:
                        rest = rest[: mnn.start()]
                        cons.append({
                            "kind": "check", "name": f"{colname}_not_null",
                            "expr": f"{colname} IS NOT NULL",
                            "synthetic": True,
                        })
                        continue
                    mck = re.search(
                        r"\s+CHECK\s*\((.*)\)$", rest, re.IGNORECASE | re.DOTALL
                    )
                    if mck:
                        rest = rest[: mck.start()]
                        cons.append({
                            "kind": "check", "name": f"{colname}_check",
                            "expr": mck.group(1),
                        })
                        continue
                    mpk = re.search(r"\s+(PRIMARY\s+KEY|UNIQUE)$", rest, re.IGNORECASE)
                    if mpk:
                        rest = rest[: mpk.start()]
                        cons.append({
                            "kind": "unique", "name": f"{colname}_key",
                            "cols": [colname],
                            "pk": mpk.group(1).upper().startswith("P"),
                        })
                        if mpk.group(1).upper().startswith("P"):
                            cons.append({
                                "kind": "check", "name": f"{colname}_not_null",
                                "expr": f"{colname} IS NOT NULL",
                                "synthetic": True,
                            })
                        continue
                    # DEFAULT <expr> (PG pg_attrdef): stripped AFTER the
                    # other trailing clauses, so `DEFAULT 5 NOT NULL`
                    # and `NOT NULL DEFAULT 5` both parse
                    mdf = re.search(
                        r"\s+DEFAULT\s+(.+)$", rest, re.IGNORECASE | re.DOTALL
                    )
                    if mdf and mdf.group(1).count("(") == mdf.group(1).count(")"):
                        rest = rest[: mdf.start()]
                        defaults[colname] = mdf.group(1).strip()
                        continue
                    break
                base_t = rest.strip().lower()
                if base_t in self.types and self.types[base_t]["kind"] == "domain":
                    # domain column: instantiate the domain's constraints
                    # on THIS column (VALUE -> column name, PG
                    # CoerceToDomain at write time); a column-level
                    # DEFAULT (parsed above) wins over the domain's
                    dom = self.types[base_t]
                    for chk in dom["checks"]:
                        cons.append(
                            _domain_check_con(colname, base_t, chk)
                        )
                    if dom["not_null"]:
                        cons.append(_domain_notnull_con(colname, base_t))
                    if dom["default"] is not None:
                        defaults.setdefault(colname, dom["default"])
                    # buffered like identity_seqs: committed only after
                    # the CREATE validates — a refused CREATE must not
                    # leave a phantom dependency blocking DROP DOMAIN
                    domains_used.setdefault(base_t, []).append(colname)
                if base_t in self.types and self.types[base_t]["kind"] == "enum":
                    # enum column: stored as string, labels enforced by a
                    # generated CHECK (SURVEY §1.2 enum mapping; reference
                    # rejects non-label values, test_correctness_bugs.cpp:392)
                    cons.append(
                        _enum_check_con(colname, self.types[base_t]["labels"])
                    )
                    enums_used.setdefault(base_t, []).append(colname)
                fields.append(f"{colname} {_pg_type_to_ddl(rest, self.types)}")
            schema = ", ".join(fields)
            for c in cons:
                if c["kind"] == "fk" and c["parent"] not in self.tables:
                    raise ValueError(f"unknown parent table: {c['parent']}")
                if (
                    c["kind"] == "fk"
                    and c["parent"] in self.temp_tables
                    and name != self._creating_temp
                ):
                    # PG: a permanent table cannot reference a temp table
                    # (also protects the COMMIT-time delete-rows sweep;
                    # self-review r13 pass 2)
                    raise ValueError(
                        "constraints on permanent tables may only "
                        "reference permanent tables"
                    )
            for gcol, gexpr in generated_new.items():
                # PG tablecmds.c refusals, checked before any physical
                # write: a generated column cannot also carry a DEFAULT
                # or identity, and its expression cannot reference
                # another generated column
                if gcol in defaults:
                    raise ValueError(
                        f'both default and generation expression '
                        f'specified for column "{gcol}"'
                    )
                if gcol in identity_new:
                    raise ValueError(
                        f'both identity and generation expression '
                        f'specified for column "{gcol}"'
                    )
                ref = [
                    o for o in generated_new
                    if re.search(rf"\b{re.escape(o)}\b", gexpr)
                ]
                if ref:
                    raise ValueError(
                        f'cannot use generated column "{ref[0]}" in '
                        f'generation expression of "{gcol}"'
                    )
            for seq in identity_seqs:
                if seq in self.sequences:
                    # the implicit name collides with a live sequence —
                    # committing would silently reset it. Checked BEFORE
                    # ManagedTable.create writes the table directory: a
                    # refused CREATE must not leave an orphan parquet dir
                    # that _restore_catalog rediscovers as a live,
                    # unconstrained ghost table (r11 loop 3 + ADVICE r12)
                    raise ValueError(
                        f'sequence "{seq}" already exists (implicit '
                        "identity sequence name collision)"
                    )
            empty = self.spark.createDataFrame([], schema).repartition(1)
            path = os.path.join(self.base_dir, name.replace(".", "__"))
            if part_cols:
                missing = [
                    c for c in part_cols if c not in empty.columns
                ]
                if missing:
                    raise ValueError(
                        f"PARTITION BY column(s) {missing} not in the "
                        "table's column list"
                    )
                if len(part_cols) >= len(empty.columns):
                    raise ValueError(
                        "PARTITION BY cannot use all of the table's "
                        "columns (no data columns would remain)"
                    )
                # ManagedTable.create pins schema_ddl from the empty
                # frame — the only source of truth for reads, since the
                # empty partitioned write lays down no files
                table = ManagedTable.create(
                    self.spark, path, empty, name,
                    partition_cols=part_cols,
                )
            else:
                table = ManagedTable.create(self.spark, path, empty, name)
            self._register(table)
            if cons:
                self.table_constraints[name] = cons
            try:
                if defaults:
                    # validate now: a broken default should fail at CREATE
                    # time (sequence calls are peeked — substituted with the
                    # current value WITHOUT consuming; the stored text keeps
                    # nextval so INSERTs advance it per row, never a
                    # DDL-frozen constant)
                    for col, expr in defaults.items():
                        peek = re.sub(
                            r"\b(?:nextval|currval)\s*\(\s*'([\w.]+)'\s*\)",
                            lambda mm: str(
                                self.sequences.get(
                                    mm.group(1).replace(".", "__"), 0
                                )
                            ),
                            expr, flags=re.IGNORECASE,
                        )
                        self.spark.range(1).select(F.expr(peek).alias(col))
                    self.table_defaults[name] = defaults
                for gcol, gexpr in generated_new.items():
                    # validate the generation expression resolves against
                    # the table's columns (analysis is eager — unknown
                    # columns / bad syntax raise here, inside the atomic
                    # CREATE)
                    empty.select(F.expr(gexpr).alias(gcol))
            except Exception:
                # CREATE is atomic: a failed defaults validation must not
                # leave a registered half-table or a rediscoverable parquet
                # dir behind (ADVICE r12 — the old commit-point only rolled
                # back identity metadata)
                self.tables.pop(name, None)
                self.spark.catalog.dropTempView(name)
                self.table_constraints.pop(name, None)
                self.table_defaults.pop(name, None)
                table.drop()
                raise
            # identity commit point: AFTER defaults validation (the peek
            # above resolves unknown sequences to 0, so validation never
            # needs them live) — a failed CREATE leaks nothing (r11
            # loops 2+3)
            for seq, start in identity_seqs.items():
                self.sequences[seq] = start
                self._seq_step[seq] = 1
                self._seq_start[seq] = start
            if identity_new:
                self.identity_cols[name] = dict(identity_new)
            if identity_new_always:
                self.identity_always[name] = set(identity_new_always)
            if generated_new:
                self.generated_cols[name] = dict(generated_new)
            if domains_used:
                self.domain_uses[name] = {
                    d: list(cols) for d, cols in domains_used.items()
                }
            if enums_used:
                self.enum_uses[name] = {
                    e: list(cols) for e, cols in enums_used.items()
                }
            self._note_created(name)
            return self._empty_status(created=name)

        m = _DROP_TABLE.match(sql)
        if m:
            name = m.group(1)
            if name in self.tables:
                self.tables.pop(name).drop()
                self.spark.catalog.dropTempView(name)
                self._drop_table_metadata(name)
            elif name in self.dynamic:
                import shutil

                shutil.rmtree(self.dynamic.pop(name).path, ignore_errors=True)
                self.spark.catalog.dropTempView(name)
                # dynamic tables carry kind-'g' comments — same
                # no-resurrection rule (self-review r11 loop 3)
                self._drop_table_metadata(name, kinds=("g",))
            # DROP stays autocommit (physical rmtree) — so every trace of
            # the table must leave the OPEN txn too, or a later COMMIT
            # publishes a stale staged frame into a re-created namesake
            # and ROLLBACK TO a pre-drop savepoint resurrects a temp view
            # over deleted files (self-review r13 pass 2)
            if self._txn is not None:
                self._txn.pop(name, None)
                for b in self._txn_dyn.pop(name, []):
                    self._release_staged(b)
                for e in self._txn_save:
                    e[1].pop(name, None)
                    for b in e[2].pop(name, []):
                        self._release_staged(b)
                self._txn_temp_drop = [
                    t for t in self._txn_temp_drop if t != name
                ]
            return self._empty_status(dropped=name)

        # subquery join-source: UPDATE t SET ... FROM (SELECT ...) AS s /
        # DELETE FROM t USING (SELECT ...) AS s — PG allows any derived
        # table there. The subquery resolves NOW as a temp view (eager
        # analysis = statement-start snapshot) and the rewritten text
        # re-routes through the named-source handlers.
        mh = re.match(
            r"^\s*(UPDATE|DELETE)\s+(?:FROM\s+)?([\w.]+)", sql,
            re.IGNORECASE,
        )
        if mh and mh.group(2) in self.tables:
            kw = "from" if mh.group(1).upper() == "UPDATE" else "using"
            hit = _find_depth0_source(sql, kw)
            if hit:
                i, j = hit
                close = _scan_balanced(sql, j)
                sub_body = sql[j + 1:close - 1].strip()
                if re.match(r"^(SELECT|VALUES|WITH)\b", sub_body,
                            re.IGNORECASE):
                    import uuid as _uuid

                    view = f"__otx_src_{_uuid.uuid4().hex[:8]}"
                    self.spark.sql(sub_body).createOrReplaceTempView(view)
                    new_sql = (
                        sql[:i] + kw.upper() + " " + view + sql[close:]
                    )
                    try:
                        return self.route(new_sql)
                    finally:
                        self.spark.catalog.dropTempView(view)


        # positioned DML: UPDATE/DELETE ... WHERE CURRENT OF <cursor>
        # (PG cursor surface; must intercept before the plain UPDATE/
        # DELETE regexes, whose WHERE capture would swallow CURRENT OF)
        m = re.match(
            r"^\s*(?:UPDATE\s+([\w.]+)\s+SET\s+(.*?)|DELETE\s+FROM\s+"
            r"([\w.]+))\s+WHERE\s+CURRENT\s+OF\s+(\w+)"
            r"(?:\s+RETURNING\s+(.+?))?\s*;?\s*$",
            sql, re.IGNORECASE | re.DOTALL,
        )
        if m:
            return self._positioned_dml(*m.groups())

        m = self._match_protected(_MERGE, sql)
        if m and m[0] in self.tables:
            return self._merge_into(*m)

        m = self._match_protected(_UPDATE_FROM, sql)
        if (
            m
            and m[0] in self.tables
            # guard against a plain UPDATE whose WHERE contains a
            # subquery (`... WHERE id IN (SELECT .. FROM u WHERE ..)`) —
            # there the regex's non-greedy SET slice swallows the outer
            # WHERE and splits inside the subquery, leaving unbalanced
            # parens / a stray WHERE in the captured set-clause
            and m[1].count("(") == m[1].count(")")
            and not re.search(r"\bWHERE\b", m[1], re.IGNORECASE)
        ):
            return self._update_from(*m)

        m = self._match_protected(_UPDATE, sql)
        if m and m[0] in self.tables:
            name, set_clause, where, returning = m
            table = self.tables[name]
            cond = F.expr(where) if where else F.lit(True)
            set_texts = _split_set_list(set_clause)
            # PG: SET col = DEFAULT assigns the declared default (or NULL)
            dfl = self.table_defaults.get(name, {})
            set_texts = {
                col: (
                    dfl.get(col, "NULL")
                    if expr.strip().upper() == "DEFAULT"
                    else expr
                )
                for col, expr in set_texts.items()
            }
            # sequence defaults: SET col = DEFAULT consumes ONE value for
            # the statement (the per-row form is the INSERT paths' job)
            set_texts = {
                col: self._consume_seq_text(expr)
                for col, expr in set_texts.items()
            }
            gen = self.generated_cols.get(name, {})
            badg = sorted(set(gen) & set(set_texts))
            if badg:
                # PG: SET on a generated column is refused (only the
                # DEFAULT keyword is legal — which the DEFAULT fold above
                # turned into "NULL"; drop it and let the recompute below
                # restore the generated value)
                explicit = [
                    c for c in badg
                    if not (
                        _split_set_list(set_clause)[c].strip().upper()
                        == "DEFAULT"
                    )
                ]
                if explicit:
                    raise ValueError(
                        f'column "{explicit[0]}" can only be updated to '
                        f'DEFAULT ("{explicit[0]}" is a generated column)'
                    )
                set_texts = {
                    c: e for c, e in set_texts.items() if c not in gen
                }
            sets = _resolve_set_targets(set_texts)
            if self._txn is not None:
                base = self._txn.get(name, table.df()).alias(name)
                new_df, matched = apply_update(base, cond, sets)
                if gen:
                    # recompute from the NEW row values (SET exprs above
                    # evaluate against the OLD row, generated columns
                    # against the updated one — PG ordering)
                    new_df = self._recompute_generated(name, new_df)
                    matched = self._recompute_generated(name, matched)
                self._validate_new_rows(name, matched, full=new_df)
                return self._stage_txn(name, new_df, matched, "updated", returning)
            result = table.update(
                cond, sets, returning=bool(returning),
                validator=(
                    (lambda m2, f2: self._validate_new_rows(name, m2, full=f2))
                    if self.table_constraints.get(name) else None
                ),
                # generated columns recompute between the SET projection
                # and validation/swap — one hook, no duplicated protocol
                transform=(
                    (lambda nd, mt: (
                        self._recompute_generated(name, nd),
                        self._recompute_generated(name, mt),
                    )) if gen else None
                ),
            )
            self._register(table)
            if returning:
                return self._apply_returning(result, returning)
            return self._status(updated=result)

        m = _TRUNCATE.match(sql)
        if m and all(
            n.strip() in self.tables for n in m.group(1).split(",")
        ):
            return self._truncate(
                [n.strip() for n in m.group(1).split(",")],
                restart=(m.group(2) or "").upper() == "RESTART",
                cascade=(m.group(3) or "").upper() == "CASCADE",
            )

        m = self._match_protected(_DELETE_USING, sql)
        if m and m[0] in self.tables:
            return self._delete_using(*m)

        m = self._match_protected(_DELETE, sql)
        if m and m[0] in self.tables:
            name, where, returning = m
            table = self.tables[name]
            cond = F.expr(where) if where else F.lit(True)
            if self._txn is not None:
                base = self._txn.get(name, table.df()).alias(name)
                # FK semantics first: restrict raises before anything stages;
                # cascades stage the surviving child frames alongside
                for child_name, new_child in self._fk_on_delete(name, base, cond):
                    self._txn[child_name] = new_child
                    new_child.createOrReplaceTempView(child_name)
                # a self-referencing FK staged its SET NULL / CASCADE child
                # frame under this table's own name: delete from that one
                base = self._txn.get(name, base).alias(name)
                new_df, matched = apply_delete(base, cond)
                return self._stage_txn(name, new_df, matched, "deleted", returning)
            # children first (fk_cascade_delete ordering): restrict checks
            # run eagerly, cascade swaps materialise before the parent delete
            for child_name, new_child in self._fk_on_delete(
                name, table.df().alias(name), cond
            ):
                self.tables[child_name]._swap_in(new_child)
                self._register(self.tables[child_name])
            result = table.delete(cond, returning=bool(returning))
            self._register(table)
            if returning:
                return self._apply_returning(result, returning)
            return self._status(deleted=result)

        m = self._match_protected(_INSERT_CONFLICT, sql)
        if m and m[0] in self.tables:
            return self._insert_on_conflict(*m)

        m = self._match_protected(_INSERT, sql)
        if m and m[0] in self.dynamic:
            name, body, returning = m
            dyn = self.dynamic[name]
            body = body.strip()
            cols = None
            mcols = re.match(r"^\(\s*(\w+(?:\s*,\s*\w+)*)\s*\)\s*(.+)$", body, re.DOTALL)
            if mcols:
                cols = [c.strip() for c in mcols.group(1).split(",")]
                body = mcols.group(2).strip()
            rows = self.spark.sql(
                f"SELECT * FROM ({body}) " if body.upper().startswith("VALUES") else body
            )
            if cols:
                rows = rows.toDF(*cols)
            if self._txn is not None:
                # stage the batch: pinned rows join the union-schema read
                # (read-your-writes) but land on disk only at COMMIT, so
                # ROLLBACK undoes dynamic-table DML like managed-table DML.
                # Under a plain-EXPLAIN probe the batch stays LAZY — an
                # eager pin would execute the source query, and the probe
                # discards the staging anyway (ADVICE r8).
                if not self._explain_probe:
                    rows = rows.localCheckpoint(eager=True)
                self._txn_dyn.setdefault(name, []).append(rows)
                dyn.df(extra=self._txn_dyn[name]).createOrReplaceTempView(
                    name
                )
                if self._explain_probe:
                    # plan-only probe: stay lazy, the probe discards it
                    if returning:
                        return self._apply_returning(rows, returning)
                    return rows.agg(F.count(F.lit(1)).alias("inserted"))
                # cursors must NOT reference the staged batch: ROLLBACK /
                # ROLLBACK TO / COMMIT release its checkpoint blocks, and
                # a lazy cursor over them would throw on a later collect
                # (self-review r9 — the managed-table eager-count rule
                # applies here too). RETURNING pins its own copy.
                if returning:
                    return self._apply_returning(
                        rows, returning
                    ).localCheckpoint(eager=True)
                n = rows.count()  # cheap: counts the pinned checkpoint
                return self._status(inserted=n)
            dyn.insert(rows)  # schema-on-write: new columns extend the table
            dyn.df().createOrReplaceTempView(name)
            if returning:
                return self._apply_returning(rows, returning)
            return self._status(inserted=rows.count())

        m = self._match_protected(_INSERT, sql)
        if m and m[0] in self.tables:
            name, body, returning = m
            table = self.tables[name]
            body = body.strip()
            # optional explicit column list: INSERT INTO t (a, b) VALUES/SELECT
            cols = None
            mcols = re.match(r"^\(\s*(\w+(?:\s*,\s*\w+)*)\s*\)\s*(.+)$", body, re.DOTALL)
            if mcols:
                cols = [c.strip() for c in mcols.group(1).split(",")]
                body = mcols.group(2).strip()
            # PG OVERRIDING clause (between the column list and the
            # source): SYSTEM VALUE lets explicit values reach GENERATED
            # ALWAYS identity columns; USER VALUE discards supplied
            # values for identity columns in favour of their sequence
            overriding = None
            mov = re.match(
                r"^OVERRIDING\s+(SYSTEM|USER)\s+VALUE\s+(.+)$",
                body, re.IGNORECASE | re.DOTALL,
            )
            if mov:
                overriding = mov.group(1).upper()
                body = mov.group(2).strip()
            idc_all = set(self.identity_cols.get(name, {}))
            gen_all = set(self.generated_cols.get(name, {}))
            if gen_all and cols is not None and gen_all & set(cols):
                # PG: a generated column can only receive the DEFAULT
                # keyword — explicit values are refused regardless of
                # OVERRIDING (tablecmds "cannot insert into column")
                if body.upper().startswith("VALUES"):
                    badg = _values_explicit_identity(
                        body, cols, gen_all & set(cols)
                    )
                else:
                    badg = sorted(gen_all & set(cols))
                if badg:
                    raise ValueError(
                        f'cannot insert a non-DEFAULT value into column '
                        f'"{badg[0]}" ("{badg[0]}" is a generated column)'
                    )
            user_handled = False
            if (
                overriding == "USER" and idc_all
                and body.upper().startswith("VALUES")
            ):
                # PG OVERRIDING USER VALUE on a VALUES source: rewrite
                # the identity positions to the DEFAULT keyword BEFORE
                # folding, so the sequence is consumed exactly ONCE per
                # row (the drop-then-refill form double-consumed when a
                # tuple already said DEFAULT — self-review r11 loop 2)
                body = _values_set_default(
                    body, cols or list(table.df().columns), idc_all
                )
                user_handled = True
            ids = self.identity_always.get(name, set())
            if ids and overriding is None and not re.fullmatch(
                r"DEFAULT\s+VALUES", body, re.IGNORECASE
            ):
                # refuse explicit non-DEFAULT values into ALWAYS identity
                # columns (PG); checked per VALUES tuple item, so string
                # literals containing 'DEFAULT' or parens in expressions
                # cannot confuse the guard, and the DEFAULT keyword stays
                # legal in any tuple position
                target_cols = (
                    cols if cols is not None else list(table.df().columns)
                )
                if body.upper().startswith("VALUES"):
                    bad = _values_explicit_identity(body, target_cols, ids)
                else:  # SELECT source: every covered column is explicit
                    bad = sorted(ids & set(target_cols))
                if bad:
                    raise ValueError(
                        f'cannot insert a non-DEFAULT value into '
                        f'column "{bad[0]}" (GENERATED ALWAYS AS '
                        f"IDENTITY); use OVERRIDING SYSTEM VALUE"
                    )
            if re.fullmatch(r"DEFAULT\s+VALUES", body, re.IGNORECASE):
                # PG: INSERT INTO t DEFAULT VALUES — one row, every column
                # from its declared DEFAULT (or NULL)
                dfl = self.table_defaults.get(name, {})
                rows = self.spark.range(1).select(
                    *[
                        (
                            self._default_expr(dfl[f.name], None, {})
                            if f.name in dfl
                            else F.lit(None)
                        ).cast(sql_type(f.dataType)).alias(f.name)
                        for f in table.df().schema.fields
                    ]
                )
                cols = None
            elif body.upper().startswith("VALUES"):
                auto_skip = cols is None and bool(gen_all)
                if auto_skip:
                    # PG: positional VALUES target the non-generated
                    # columns only (generated columns have no INSERT slot)
                    cols = [
                        c for c in table.df().columns if c not in gen_all
                    ]
                body = self._fold_values_defaults(name, body, cols)
                rows = _values_frame(self.spark, body)
                if not cols and len(rows.columns) < len(table.df().columns):
                    # PG: a short VALUES row list targets the leading
                    # columns; the rest take their DEFAULT (or NULL)
                    cols = table.df().columns[: len(rows.columns)]
                if auto_skip and len(rows.columns) < len(cols):
                    cols = cols[: len(rows.columns)]
                rows = rows.toDF(*(cols or table.df().columns))
            else:
                rows = self.spark.sql(body)
                if cols:
                    rows = rows.toDF(*cols)
                elif gen_all:
                    # SELECT source, no column list: positions map to the
                    # non-generated columns (PG)
                    cols = [
                        c for c in table.df().columns if c not in gen_all
                    ][: len(rows.columns)]
                    rows = rows.toDF(*cols)
            if overriding == "USER" and idc_all and not user_handled:
                # PG: OVERRIDING USER VALUE discards supplied identity
                # values — SELECT sources drop the columns here so the
                # reorder below refills them from the sequence default
                if cols is None:
                    rows = rows.toDF(
                        *table.df().columns[: len(rows.columns)]
                    )
                    cols = list(rows.columns)
                keep = [c for c in cols if c not in idc_all]
                if keep != cols:
                    rows = rows.select(*keep)
                    cols = keep
            if cols is not None:
                # reorder to the table schema; omitted columns take their
                # declared DEFAULT expression, else NULL (PG semantics)
                dfl = self.table_defaults.get(name, {})
                n_cache: dict = {}
                rows = rows.select(
                    *[
                        F.col(f.name)
                        if f.name in cols
                        else (
                            self._default_expr(dfl[f.name], rows, n_cache)
                            if f.name in dfl
                            else F.lit(None)
                        ).cast(sql_type(f.dataType)).alias(f.name)
                        for f in table.df().schema.fields
                    ]
                )
            # positional alignment to the table schema (PG semantics: INSERT
            # ... SELECT matches by position, not by source column name) —
            # also what makes constraint exprs resolve against table names
            rows = rows.toDF(*table.df().columns)
            # stored generated columns compute LAST, from the fully
            # defaulted row (PG ExecComputeStoredGenerated)
            rows = self._recompute_generated(name, rows)
            if self._txn is not None:
                base = self._txn.get(name, table.df())
                # coerce to the declared schema (mirrors ManagedTable.insert)
                # so a txn INSERT can't silently widen column types via union
                rows = rows.select(
                    *[
                        F.col(f.name).cast(sql_type(f.dataType)).alias(f.name)
                        for f in base.schema.fields
                    ]
                )
                self._validate_new_rows(name, rows)
                new_df = base.unionByName(rows)
                return self._stage_txn(name, new_df, rows, "inserted", returning)
            self._validate_new_rows(name, rows)
            result = table.insert(rows, returning=bool(returning))
            self._register(table)
            if returning:
                return self._apply_returning(result, returning)
            return self._status(inserted=result)

        if _OWNED_DDL_FAMILIES.match(sql):
            raise ValueError(
                "unrecognised DDL: no router rule matched a statement in a "
                "router-owned family (refusing silent fall-through to "
                f"spark.sql): {sql.strip()[:160]!r}"
            )
        return self.spark.sql(sql)

    # -- pg_catalog introspection (reference
    # -- components/catalog/system_table_schemas.cpp:260-272 materializes
    # -- pg_database / pg_namespace / pg_class / pg_proc rows and resolves
    # -- catalog probes through real operators) ------------------------------

    _PG_CATALOG_RE = re.compile(
        # NOTE: information_schema carries no trailing \b — after
        # canonicalize it reads information_schema__tables, and '_' is a
        # word character, so \b would never match there
        r"\b(?:pg_database|pg_namespace|pg_class|pg_attribute|pg_type"
        r"|pg_proc|pg_tables|pg_sequences|pg_constraint|pg_description)\b"
        r"|\binformation_schema",
        re.IGNORECASE,
    )

    # pg typname -> information_schema.columns.data_type spelling
    _PG_DATA_TYPES = {
        "int8": "bigint", "int4": "integer", "int2": "smallint",
        "float8": "double precision", "float4": "real", "text": "text",
        "bool": "boolean", "date": "date",
        "timestamptz": "timestamp with time zone",
        "timestamp": "timestamp without time zone",
        "numeric": "numeric", "bytea": "bytea",
    }

    # PG's well-known type oids for the types the engine maps; anything
    # else (arrays, structs, user types) gets a session-scoped oid
    _PG_TYPE_OIDS = {
        "boolean": ("bool", 16), "binary": ("bytea", 17),
        "bigint": ("int8", 20), "smallint": ("int2", 21),
        "tinyint": ("int2", 21), "int": ("int4", 23),
        "string": ("text", 25), "double": ("float8", 701),
        "float": ("float4", 700), "date": ("date", 1082),
        "timestamp": ("timestamptz", 1184),
        "timestamp_ntz": ("timestamp", 1114),
    }

    def _oid(self, kind: str, name: str) -> int:
        key = (kind, name)
        if key not in self._oids:
            self._oids[key] = self._oid_next
            self._oid_next += 1
        return self._oids[key]

    def _pg_split(self, name: str) -> tuple[str, str]:
        """Canonical ``db__object`` -> (namespace, relname); bare names
        live in ``public`` (the canonicalize() inverse for display)."""
        if "__" in name:
            db, rest = name.split("__", 1)
            if db in self.databases:
                return db, rest
        return "public", name

    def _pg_typrow(self, spark_type: str) -> tuple[str, int]:
        if spark_type.startswith("decimal"):
            return "numeric", 1700
        if spark_type in self._PG_TYPE_OIDS:
            return self._PG_TYPE_OIDS[spark_type]
        return spark_type, self._oid("type", spark_type)

    def register_pg_catalog(self) -> None:
        """(Re)materialize the pg_catalog system views over the engine's
        live catalog state, as tiny driver-side temp views — rebuilt on
        demand whenever a statement references one of them, so tooling
        queries (``SELECT relname FROM pg_class``, attribute walks joined
        through pg_type, pg_proc listings) always see current state.
        relkind codes follow PG plus the reference's ``g`` for dynamic
        schema-on-write ("computing") tables."""
        nsp = {"pg_catalog": 11, "public": 2200}
        for db in sorted(self.databases):
            nsp[db] = self._oid("nsp", db)
        classes: list[tuple] = []
        attrs: list[tuple] = []
        typrows: dict[str, int] = {}
        # attnotnull: PG models NOT NULL (incl. the PK-derived kind) as a
        # column attribute — recover it from the engine's check records
        notnull = {
            (t, mm.group(1))
            for t, lst in self.table_constraints.items()
            for c in lst
            if c["kind"] == "check"
            for mm in [re.fullmatch(
                r"\s*(\w+)\s+IS\s+NOT\s+NULL\s*", c["expr"], re.IGNORECASE
            )]
            if mm
        }

        def add_class(name: str, kind: str, schema=None) -> None:
            ns, rel = self._pg_split(name)
            # oid namespace includes the relkind: a table and a sequence
            # may share a name (separate dicts), and a shared oid would
            # cross-wire the pg_attribute walk (self-review r9)
            oid = self._oid(f"rel:{kind}", name)
            classes.append((oid, rel, nsp.get(ns, 2200), kind))
            for i, f in enumerate(schema or (), start=1):
                tname, toid = self._pg_typrow(f.dataType.simpleString())
                typrows[tname] = toid
                attrs.append((
                    oid, f.name, toid, i,
                    (not f.nullable) or (name, f.name) in notnull,
                ))

        for name, t in sorted(self.tables.items()):
            add_class(name, "r", t.df().schema.fields)
        for name, d in sorted(self.dynamic.items()):
            add_class(name, "g", d.df().schema.fields)
        for name, mv in sorted(self.matviews.items()):
            add_class(name, "m", mv.df().schema.fields)
        for name in sorted(self.views):
            add_class(name, "v")  # body re-resolves; no stored tuple desc
        for name in sorted(self.sequences):
            add_class(name, "S")
        for tname, toid in self._PG_TYPE_OIDS.values():
            typrows.setdefault(tname, toid)
        typrows.setdefault("numeric", 1700)
        # user-defined types ride with their PG typtype letter ('e' enum,
        # 'c' composite, 'd' domain — what \dT and schema tools filter
        # on); everything else is a base type ('b')
        typkind = {
            n: {"enum": "e", "composite": "c", "domain": "d"}[d["kind"]]
            for n, d in self.types.items()
        }
        for n in typkind:
            typrows.setdefault(n, self._oid("type", n))
        procs = [
            (self._oid("proc", n), n, 2200, d["expr"])
            for n, d in sorted(self.functions.items())
        ]
        seqs = [
            (self._pg_split(n)[0], self._pg_split(n)[1],
             self._seq_start.get(n, 1), self._seq_step.get(n, 1),
             self._seq_last.get(n))
            for n in sorted(self.sequences)
        ]
        dbs = [(1, "otterbrix")] + [
            (nsp[db], db) for db in sorted(self.databases)
        ]
        sp = self.spark
        mk = sp.createDataFrame
        mk(dbs, "oid BIGINT, datname STRING").createOrReplaceTempView(
            "pg_database")
        mk([(o, n) for n, o in sorted(nsp.items())],
           "oid BIGINT, nspname STRING").createOrReplaceTempView(
            "pg_namespace")
        mk(classes,
           "oid BIGINT, relname STRING, relnamespace BIGINT, relkind STRING"
           ).createOrReplaceTempView("pg_class")
        mk(attrs,
           "attrelid BIGINT, attname STRING, atttypid BIGINT, "
           "attnum INT, attnotnull BOOLEAN"
           ).createOrReplaceTempView("pg_attribute")
        mk([(o, n, typkind.get(n, "b")) for n, o in sorted(typrows.items())],
           "oid BIGINT, typname STRING, typtype STRING"
           ).createOrReplaceTempView("pg_type")
        mk(procs,
           "oid BIGINT, proname STRING, pronamespace BIGINT, prosrc STRING"
           ).createOrReplaceTempView("pg_proc")
        mk([(self._pg_split(n)[0], self._pg_split(n)[1])
            for n in sorted(list(self.tables) + list(self.dynamic))],
           "schemaname STRING, tablename STRING"
           ).createOrReplaceTempView("pg_tables")
        mk(seqs,
           "schemaname STRING, sequencename STRING, start_value BIGINT, "
           "increment_by BIGINT, last_value BIGINT"
           ).createOrReplaceTempView("pg_sequences")
        # pg_description: COMMENT ON storage joined by oid (objsubid 0 =
        # the object, else the column attnum — PG's layout)
        desc = [
            (self._oid(f"rel:{k}", n), s, t)
            for (k, n, s), t in sorted(self.comments.items())
        ]
        mk(desc,
           "objoid BIGINT, objsubid INT, description STRING"
           ).createOrReplaceTempView("pg_description")
        # anonymous constraints are keyed by a STABLE identity (kind +
        # normalized expr/cols), never by list position: a DROP CONSTRAINT
        # shifts indexes and would silently reassign a session oid that
        # oid-joining tooling may have cached
        def _con_ident(c: dict) -> str:
            if c.get("name"):
                return c["name"]
            if c.get("expr"):
                return f"{c['kind']}:{' '.join(str(c['expr']).split()).lower()}"
            if c.get("cols"):
                pk = ".pk" if c.get("pk") else ""
                return f"{c['kind']}{pk}:{','.join(c['cols'])}"
            return f"{c['kind']}:{sorted(c.items())!r}"

        cons = [
            (
                self._oid("con", f"{t}.{_con_ident(c)}"),
                c.get("name") or f"{t}_{c['kind']}_{i}",
                "p" if c.get("pk") else {
                    "check": "c", "fk": "f", "unique": "u"
                }.get(c["kind"], c["kind"][:1]),
                self._oid("rel:r", t),
            )
            for t, lst in sorted(self.table_constraints.items())
            for i, c in enumerate(lst)
            # synthetic NOT NULL checks are PG's attnotnull, not
            # pg_constraint rows (they surface in pg_attribute below)
            if not c.get("synthetic")
        ]
        mk(cons,
           "oid BIGINT, conname STRING, contype STRING, conrelid BIGINT"
           ).createOrReplaceTempView("pg_constraint")
        # information_schema (the SQL-standard half of the same surface;
        # canonicalize() maps information_schema.X -> information_schema__X
        # the way db.table maps, since Spark temp views are single-part)
        by_oid = {o: (ns, rel, kind) for o, rel, ns, kind in classes}
        ns_name = {o: n for n, o in nsp.items()}
        table_type = {
            "r": "BASE TABLE", "g": "BASE TABLE", "m": "MATERIALIZED VIEW",
            "v": "VIEW", "S": "SEQUENCE",
        }
        info_tables = [
            ("otterbrix", ns_name[ns], rel, table_type[kind])
            for ns, rel, kind in by_oid.values()
            if kind != "S"
        ]
        typ_name = {o: n for n, o in typrows.items()}
        info_cols = [
            (ns_name[by_oid[rel_oid][0]], by_oid[rel_oid][1], att, pos,
             self._PG_DATA_TYPES.get(typ_name[toid], typ_name[toid]),
             "NO" if notnull else "YES",
             # SQL-standard generated-column surface (PG
             # information_schema.columns.is_generated /
             # generation_expression)
             "ALWAYS" if att in self.generated_cols.get(
                 by_oid[rel_oid][1], {}
             ) else "NEVER",
             self.generated_cols.get(by_oid[rel_oid][1], {}).get(att))
            for rel_oid, att, toid, pos, notnull in attrs
        ]
        mk(info_tables,
           "table_catalog STRING, table_schema STRING, table_name STRING, "
           "table_type STRING"
           ).createOrReplaceTempView("information_schema__tables")
        mk(info_cols,
           "table_schema STRING, table_name STRING, column_name STRING, "
           "ordinal_position INT, data_type STRING, is_nullable STRING, "
           "is_generated STRING, generation_expression STRING"
           ).createOrReplaceTempView("information_schema__columns")
        # key_column_usage + referential_constraints: the SQL-standard FK
        # discovery surface ORMs/migration tools read (PG information_schema
        # ch. 37) — key columns of every PK/UNIQUE/FK constraint, and the
        # FK -> referenced-unique-constraint mapping with its action rules
        kcu = []
        refcons = []
        for t, lst in sorted(self.table_constraints.items()):
            for c in lst:
                if c["kind"] == "unique":
                    for pos, col in enumerate(c["cols"], 1):
                        kcu.append(("otterbrix", "public", c["name"],
                                    t, col, pos))
            for c in lst:
                if c["kind"] != "fk":
                    continue
                kcu.append(("otterbrix", "public", c["name"],
                            t, c["child_key"], 1))
                parent_cons = self.table_constraints.get(c["parent"], [])
                uniq_name = next(
                    (pc["name"] for pc in parent_cons
                     if pc["kind"] == "unique"
                     and pc["cols"] == [c["parent_key"]]),
                    None,
                )
                refcons.append((
                    "otterbrix", "public", c["name"], uniq_name,
                    "NO ACTION",
                    {"cascade": "CASCADE", "set_null": "SET NULL"}.get(
                        c.get("on_delete"), "RESTRICT"
                    ),
                ))
        mk(kcu,
           "constraint_catalog STRING, constraint_schema STRING, "
           "constraint_name STRING, table_name STRING, column_name STRING, "
           "ordinal_position INT"
           ).createOrReplaceTempView("information_schema__key_column_usage")
        mk(refcons,
           "constraint_catalog STRING, constraint_schema STRING, "
           "constraint_name STRING, unique_constraint_name STRING, "
           "update_rule STRING, delete_rule STRING"
           ).createOrReplaceTempView(
               "information_schema__referential_constraints")

    def handles(self, sql: str) -> bool:
        if self._PG_CATALOG_RE.search(sql):
            # refresh-then-route: the system views must reflect catalog
            # state AS OF this statement (PG reads live catalog tables);
            # rebuilding here keeps plain spark.sql paths (EXPLAIN's
            # SELECT branch) current too. Driver-side frames over dict
            # state — a few ms, only on statements that name them.
            self.register_pg_catalog()
            return True
        if re.search(r"\b(nextval|currval)\s*\(", sql, re.IGNORECASE):
            return True
        if _parse_with_dml(sql):
            return True
        head = sql.lstrip()[:40].upper()
        if re.match(
            r"^CREATE\s+(?:GLOBAL\s+|LOCAL\s+)?TEMP(?:ORARY)?\s+TABLE\b",
            head,
        ):
            return True
        return any(
            head.startswith(k)
            for k in (
                "CREATE TABLE", "DROP TABLE", "INSERT", "UPDATE", "DELETE",
                "MERGE", "TRUNCATE",
                "SET ", "BEGIN", "COMMIT", "ROLLBACK", "ABORT",
                "SAVEPOINT", "RELEASE",
                "DECLARE", "FETCH", "MOVE", "CLOSE",
                "CREATE INDEX", "CREATE UNIQUE INDEX", "DROP INDEX",
                "VACUUM", "CHECKPOINT", "ALTER TABLE",
                "CREATE VIEW", "CREATE OR REPLACE VIEW",
                "CREATE MATERIALIZED VIEW", "REFRESH MATERIALIZED",
                "DROP VIEW", "DROP MATERIALIZED VIEW",
                "CREATE DATABASE", "DROP DATABASE",
                "CREATE SEQUENCE", "DROP SEQUENCE",
                "CREATE TYPE", "DROP TYPE", "ALTER TYPE",
                "CREATE DOMAIN", "DROP DOMAIN", "ALTER DOMAIN",
                "CREATE FUNCTION", "CREATE OR REPLACE FUNCTION",
                "DROP FUNCTION", "COPY", "COMMENT ON",
            )
        )

    def _fold_values_defaults(
        self, name: str, body: str, cols: "list[str] | None"
    ) -> str:
        """Replace top-level DEFAULT keywords inside VALUES row tuples with
        the target column's declared default expression (or NULL) — the PG
        `INSERT ... VALUES (1, DEFAULT)` form, folded as text before Spark
        parses the VALUES list (Spark has no DEFAULT expression node
        here)."""
        if not re.search(r"\bDEFAULT\b", body, re.IGNORECASE):
            return body
        targets = cols or [f.name for f in self.tables[name].df().schema.fields]
        dfl = self.table_defaults.get(name, {})
        folded = _map_values_items(
            body,
            lambda i, it: (
                dfl.get(targets[i], "NULL")
                if it.strip().upper() == "DEFAULT" and i < len(targets)
                else it
            ),
        )
        if folded is None:
            return body
        # folded defaults may carry sequence calls; each occurrence (one
        # per DEFAULT row slot) consumes its own value — per-row PG
        # semantics fall out naturally, and the caller's spark.sql parse
        # never sees an unresolvable nextval()
        return self._consume_seq_text(folded)

    def _copy(self, m: re.Match) -> DataFrame:
        """Execute a matched COPY statement (see route() for semantics)."""
        qtext, tname, cols_txt = m.group("q"), m.group("tbl"), m.group("cols")
        direction = m.group("dir").upper()
        path = m.group("path")
        opts: dict[str, str] = {}
        for part in _split_top_level(m.group("opts") or ""):
            p = part.strip()
            if not p:
                continue
            kv = p.split(None, 1)
            opts[kv[0].upper()] = (
                kv[1].strip().strip("'") if len(kv) > 1 else "true"
            )
        fmt = opts.get("FORMAT", "csv").lower()
        if fmt not in ("csv", "parquet", "json"):
            raise ValueError(f"COPY: unsupported FORMAT {fmt}")
        header = opts.get("HEADER", "false").lower() in ("true", "on", "1")
        delim = opts.get("DELIMITER", ",")

        if direction == "TO":
            if qtext is not None:
                out = self.spark.sql(qtext)
            else:
                if tname not in self.tables:
                    raise ValueError(f"COPY: unknown table {tname}")
                out = self.tables[tname].df()
                if cols_txt:
                    out = out.select(
                        *[c.strip() for c in cols_txt.split(",") if c.strip()]
                    )
                else:
                    # PG: COPY TO without a column list excludes stored
                    # generated columns — the mirror of the FROM branch,
                    # so a TO/FROM round-trip stays positionally aligned
                    genc = set(self.generated_cols.get(tname, {}))
                    if genc:
                        out = out.select(
                            *[c for c in out.columns if c not in genc]
                        )
            writer = out.write.mode("overwrite").format(fmt)
            if fmt == "csv":
                writer = writer.option("header", header).option("sep", delim)
            writer.save(path)
            n = out.count()
            return self._status(copied=n)

        if tname is None or tname not in self.tables:
            raise ValueError(f"COPY: unknown table {tname}")
        table = self.tables[tname]
        cols = [c.strip() for c in (cols_txt or "").split(",") if c.strip()]
        reader = self.spark.read.format(fmt)
        if fmt == "csv":
            reader = reader.option("header", header).option("sep", delim)
            # the file carries no types: parse with the DECLARED column
            # types (PG reads COPY text through each column's input
            # function for the same reason)
            genc = set(self.generated_cols.get(tname, {}))
            # PG: COPY without a column list expects the file WITHOUT
            # generated columns (they cannot be copied to)
            fields = [
                f for f in table.df().schema.fields
                if (f.name in cols if cols else f.name not in genc)
            ]
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType(fields))
        rows = reader.load(path)
        view = f"__otx_copy_{tname}"
        rows.createOrReplaceTempView(view)
        col_list = f" ({', '.join(cols)})" if cols else ""
        try:
            return self.route(
                f"INSERT INTO {tname}{col_list} SELECT * FROM {view}"
            )
        finally:
            self.spark.catalog.dropTempView(view)
