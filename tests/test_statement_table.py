"""The catalog's statement table: one classifier for every caller.

`Catalog.classify` picks a statement's row in `catalog.STATEMENTS`; `handles`,
`route`, the engine's persist / view-refresh boundary and plain EXPLAIN all
read that row. The agreement tests run one statement per row against a
catalog whose table names are registered but never built, with each row's
handler, the persist and refresh steps, ``explain_route`` and ``spark.sql``
replaced by recorders, so they run no Spark job. The remaining tests run
real statements: leading comments, PG's transaction spellings, plain
EXPLAIN of the CTAS forms, INSERT column lists and SET targets matched
without regard to case and unknown names refused (against DuckDB), ON
COMMIT DELETE ROWS on a dynamic table, and the size of `catalog.py`'s
functions.
"""

from __future__ import annotations

import ast
import os
from pathlib import Path

import duckdb
import pytest

from otterbrix_spark import catalog as catalog_mod
from otterbrix_spark.catalog import STATEMENTS
from otterbrix_spark.engine import Engine

# (row, statement, mutates as the engine decided before the table: every
# head but FETCH, MOVE, CLOSE, DECLARE, BEGIN, SAVEPOINT, RELEASE, SELECT,
# SET TIME and SHOW mutates, and so does any statement calling nextval())
CORPUS = [
    ("with_dml", "WITH d AS (DELETE FROM t WHERE k = 1 RETURNING *) SELECT * FROM d", True),
    ("set_timezone", "SET TIME ZONE 'UTC'", False),
    ("set_timezone", "SET timezone = 'UTC'", False),
    ("set", "SET search_path = public", True),
    ("declare", "DECLARE c CURSOR FOR SELECT * FROM t", False),
    ("fetch", "FETCH NEXT FROM c", False),
    ("fetch", "MOVE 2 IN c", False),
    ("close", "CLOSE c", False),
    ("begin", "BEGIN", False),
    ("begin", "BEGIN TRANSACTION", False),
    ("savepoint", "SAVEPOINT s1", False),
    ("rollback_to", "ROLLBACK TO SAVEPOINT s1", True),
    ("release", "RELEASE SAVEPOINT s1", False),
    ("commit", "COMMIT", True),
    ("rollback", "ROLLBACK", True),
    ("rollback", "ABORT", True),
    ("copy", "COPY t TO '/nonexistent/t.csv'", True),
    ("comment", "COMMENT ON TABLE t IS 'note'", True),
    ("create_index", "CREATE INDEX i ON t (k)", True),
    ("drop_index", "DROP INDEX i", True),
    ("maintenance", "VACUUM", True),
    ("add_constraint", "ALTER TABLE t ADD CONSTRAINT pos CHECK (v > 0)", True),
    ("drop_constraint", "ALTER TABLE t DROP CONSTRAINT pos", True),
    ("rename_table", "ALTER TABLE t RENAME TO t2", True),
    ("add_generated_column",
     "ALTER TABLE t ADD COLUMN g int GENERATED ALWAYS AS (v * 2) STORED", True),
    ("drop_expression", "ALTER TABLE t ALTER COLUMN g DROP EXPRESSION", True),
    ("add_column", "ALTER TABLE t ADD COLUMN w int", True),
    ("alter_column_type", "ALTER TABLE t ALTER COLUMN v TYPE bigint", True),
    ("alter_column_default", "ALTER TABLE t ALTER COLUMN v SET DEFAULT 0", True),
    ("rename_column", "ALTER TABLE t RENAME COLUMN v TO w", True),
    ("drop_column", "ALTER TABLE t DROP COLUMN v", True),
    ("create_matview", "CREATE MATERIALIZED VIEW mv AS SELECT * FROM t", True),
    ("refresh_matview", "REFRESH MATERIALIZED VIEW mv", True),
    ("drop_view", "DROP VIEW v1", True),
    ("create_view", "CREATE VIEW v1 AS SELECT k FROM t", True),
    ("create_function", "CREATE FUNCTION f(x INT) RETURNS INT RETURN x + 1", True),
    ("drop_function", "DROP FUNCTION f", True),
    ("create_enum", "CREATE TYPE mood AS ENUM ('a', 'b')", True),
    ("create_composite", "CREATE TYPE pair AS (a int, b text)", True),
    ("drop_type", "DROP TYPE mood", True),
    ("alter_enum_add", "ALTER TYPE mood ADD VALUE 'c'", True),
    ("alter_enum_rename", "ALTER TYPE mood RENAME VALUE 'a' TO 'z'", True),
    ("create_domain", "CREATE DOMAIN posint AS int CHECK (VALUE > 0)", True),
    ("drop_domain", "DROP DOMAIN posint", True),
    ("alter_domain", "ALTER DOMAIN posint SET NOT NULL", True),
    ("create_sequence", "CREATE SEQUENCE s2", True),
    ("drop_sequence", "DROP SEQUENCE s2", True),
    ("sequence_calls", "SELECT nextval('s')", True),
    ("sequence_calls", "INSERT INTO t VALUES (nextval('s'), 1)", True),
    ("create_temp_table", "CREATE TEMP TABLE tt AS SELECT 1 AS a", True),
    ("create_database", "CREATE DATABASE db", True),
    ("create_table_as", "CREATE TABLE c AS SELECT * FROM t", True),
    ("create_table_like", "CREATE TABLE c (LIKE t)", True),
    ("create_dynamic_table", "CREATE TABLE dd ()", True),
    ("create_table", "CREATE TABLE c (a int)", True),
    ("drop_table", "DROP TABLE t", True),
    ("dml_subquery_source",
     "UPDATE t SET v = s.v FROM (SELECT 1 AS k, 2 AS v) AS s WHERE t.k = s.k", True),
    ("positioned_dml", "DELETE FROM t WHERE CURRENT OF c", True),
    ("merge", "MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN DELETE", True),
    ("update_from", "UPDATE t SET v = s.v FROM s WHERE t.k = s.k", True),
    ("update", "UPDATE t SET v = 0 WHERE k = 1", True),
    ("update", "UPDATE t SET v = 0 WHERE k IS DISTINCT FROM v", True),
    ("truncate", "TRUNCATE t", True),
    ("delete_using", "DELETE FROM t USING s WHERE t.k = s.k", True),
    ("delete", "DELETE FROM t WHERE k = 1", True),
    ("insert_conflict", "INSERT INTO t VALUES (1, 2) ON CONFLICT (k) DO NOTHING", True),
    ("insert_dynamic", "INSERT INTO d SELECT 1 AS a", True),
    ("insert", "INSERT INTO t VALUES (1, 2)", True),
    ("unrecognised", "DROP TABLE a, b", True),
    ("unrecognised", "COMMIT AND CHAIN", True),
    ("native_dml", "INSERT INTO native_t VALUES (1)", True),
    ("query", "SELECT * FROM t", False),
    ("command", "SHOW TABLES", False),
]

# PG transaction spellings the table added: START TRANSACTION was refused
# as a parse error before (its head then counted as mutating), and the
# others were refused as unrecognised DDL
NEW_SPELLINGS = [
    ("begin", "START TRANSACTION"),
    ("begin", "BEGIN WORK"),
    ("commit", "COMMIT TRANSACTION"),
    ("commit", "END"),
    ("commit", "END WORK"),
    ("rollback", "ROLLBACK WORK"),
    ("rollback", "ABORT TRANSACTION"),
]

_KIND = {k.name: k for k in STATEMENTS}
_REFUSED = "EXPLAIN cannot plan a utility statement"


class _Recorder:
    """Stands in for a method or ``spark``: records each call's arguments
    and returns ``result``."""

    def __init__(self, result=None):
        self.calls: list[tuple] = []
        self.result = result

    def __call__(self, *args, **kwargs):
        self.calls.append((args, kwargs))
        return self.result

    def sql(self, *args, **kwargs):
        return self(*args, **kwargs)


@pytest.fixture()
def eng(spark, tmp_path):
    """An engine whose catalog knows managed tables ``t`` and ``s``,
    dynamic table ``d``, sequence ``s`` and cursor ``c`` by name only."""
    eng = Engine(spark, table_dir=str(tmp_path))
    cat = eng.catalog
    cat.tables.update(t=None, s=None)
    cat.dynamic["d"] = None
    cat.sequences["s"] = 5
    return eng


def test_corpus_covers_every_row():
    assert {kind for kind, _, _ in CORPUS} == set(_KIND)
    assert len(_KIND) == len(STATEMENTS)


@pytest.mark.parametrize("kind,sql,mutated", CORPUS, ids=[c[1][:40] for c in CORPUS])
def test_row_agreement(eng, kind, sql, mutated):
    cat, row = eng.catalog, _KIND[kind]
    stmt = cat.classify(sql)
    assert stmt.kind is row
    # one classifier: the statement routes exactly when handles() says so
    assert cat.handles(sql) is stmt.routed is (row.handler is not None)
    # the row's mutates is the decision the engine made by head before
    assert row.mutates is mutated
    # route reaches the row's handler (unrouted rows: spark.sql)
    sentinel = object()
    target = _Recorder(sentinel)
    if row.handler is None:
        cat.spark = target
    else:
        setattr(cat, row.handler, target)
    assert cat.route(sql) is sentinel
    assert len(target.calls) == 1


@pytest.mark.parametrize(
    "kind,sql", [(k, s) for k, s, _ in CORPUS if _KIND[k].handler] + NEW_SPELLINGS,
    ids=[s[:40] for k, s, _ in CORPUS if _KIND[k].handler] + [s for _, s in NEW_SPELLINGS],
)
def test_boundary_follows_row(eng, spark, kind, sql):
    """The engine persists and re-binds views after a statement exactly
    when its row mutates, re-binding every view for COMMIT/ROLLBACK."""
    cat, row = eng.catalog, _KIND[kind]
    assert cat.classify(sql).kind is row
    cat.route = _Recorder(spark.range(0))
    cat.persist_catalog_state = persist = _Recorder()
    cat.refresh_views = refresh = _Recorder()
    eng._route(sql)
    assert bool(persist.calls) is row.mutates
    if not row.mutates:
        assert refresh.calls == []
    elif row.refresh_all:
        assert refresh.calls == [((), {})]
    else:
        assert refresh.calls == [((), {"statement": sql})]


@pytest.mark.parametrize("kind,sql,_m", CORPUS, ids=[c[1][:40] for c in CORPUS])
def test_plain_explain_follows_row(eng, kind, sql, _m):
    cat, row = eng.catalog, _KIND[kind]
    cat.explain_route = probe = _Recorder("probed")
    eng.spark = spark = _Recorder("planned")
    if row.explain == "refuse":
        with pytest.raises(ValueError, match=_REFUSED):
            eng._explain_only(sql, ())
        assert probe.calls == spark.calls == []
        return
    cur, pre_rendered = eng._explain_only(sql, ())
    ran = (probe.calls + spark.calls)[0][0][0]
    mode, text = row.explain, sql
    if mode == "seq":
        # the calls are peeked, then the statement explains by its own row
        peeked = sql.replace("nextval('s')", "5")
        mode = cat.classify(peeked).kind.explain
        text = peeked if mode == "query" else sql
    expected = {
        "probe": ("probed", text, False),
        "native": ("planned", "EXPLAIN FORMATTED " + text, True),
        "query": ("planned", text, False),
        "ctas": ("planned", text.split(" AS ", 1)[-1], False),
    }[mode]
    assert (cur.df, ran, pre_rendered) == expected
    assert len(probe.calls + spark.calls) == 1


def test_new_spellings_classify(eng):
    for kind, sql in NEW_SPELLINGS:
        assert eng.catalog.classify(sql).kind.name == kind, sql


def test_leading_comment_is_not_the_head(eng):
    cat = eng.catalog
    for sql, kind in (
        ("-- note\nINSERT INTO t VALUES (2, 20)", "insert"),
        ("/* c */ UPDATE t SET v = 0 WHERE k = 1", "update"),
        ("/* a */ -- b\n  SELECT 1", "query"),
    ):
        stmt = cat.classify(sql)
        assert stmt.kind.name == kind
        assert stmt.sql == sql.split("\n")[-1].split("*/")[-1].strip()


# -- statements run end to end --------------------------------------------


@pytest.fixture()
def both(spark, tmp_path):
    """A real engine and DuckDB, each holding ``t (k int, v int)`` = (1, 10)."""
    eng = Engine(spark, table_dir=str(tmp_path))
    con = duckdb.connect()
    for sql in ("CREATE TABLE t (k int, v int)", "INSERT INTO t VALUES (1, 10)"):
        eng.execute_sql(sql)
        con.execute(sql)
    yield eng, con
    con.close()


def _rows(db, sql="SELECT * FROM t") -> list[tuple]:
    run = db.execute if isinstance(db, duckdb.DuckDBPyConnection) else db.execute_sql
    return sorted(tuple(r) for r in run(sql).fetchall())


@pytest.mark.parametrize("sql", [
    "-- note\nINSERT INTO t VALUES (2, 20)",
    "/* c */ UPDATE t SET v = 0 WHERE k = 1",
    "INSERT INTO t (K, V) VALUES (2, 20)",
    "UPDATE t SET V = 7 WHERE K = 1",
])
def test_statement_against_duckdb(both, sql):
    eng, con = both
    assert eng.execute_sql(sql).fetchall()[0][0] == con.execute(sql).fetchall()[0][0] == 1
    assert _rows(eng) == _rows(con)


def test_unknown_insert_column_refused(both):
    eng, con = both
    sql = "INSERT INTO t (k, nosuch) VALUES (3, 30)"
    with pytest.raises(duckdb.BinderException):
        con.execute(sql)
    with pytest.raises(ValueError, match='column "nosuch" of relation "t" does not exist'):
        eng.execute_sql(sql)
    with pytest.raises(ValueError, match='column "nosuch" of relation "t" does not exist'):
        eng.execute_sql("UPDATE t SET nosuch = 1")
    assert _rows(eng) == _rows(con) == [(1, 10)]


def test_set_targets_in_every_write_form(spark, tmp_path):
    """UPDATE…FROM, ON CONFLICT DO UPDATE and MERGE resolve their SET
    targets like plain UPDATE: case folded, unknown names refused."""
    eng, con = Engine(spark, table_dir=str(tmp_path)), duckdb.connect()
    for sql in (
        "CREATE TABLE t (k int PRIMARY KEY, v int)", "CREATE TABLE s (k int, v int)",
        "INSERT INTO t VALUES (1, 10), (2, 20)", "INSERT INTO s VALUES (1, 5)",
        "UPDATE t SET V = s.v FROM s WHERE t.k = s.k",
        "INSERT INTO t VALUES (2, 7) ON CONFLICT (k) DO UPDATE SET V = EXCLUDED.v",
    ):
        eng.execute_sql(sql)
        con.execute(sql)
    assert _rows(eng) == _rows(con) == [(1, 5), (2, 7)]
    # DuckDB 1.0 has no MERGE: PG's rows
    eng.execute_sql("MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN UPDATE SET V = 99")
    assert _rows(eng) == [(1, 99), (2, 7)]
    for sql in (
        "UPDATE t SET nosuch = s.v FROM s WHERE t.k = s.k",
        "INSERT INTO t VALUES (2, 8) ON CONFLICT (k) DO UPDATE SET nosuch = 1",
        "MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN UPDATE SET nosuch = 1",
    ):
        with pytest.raises(ValueError, match='column "nosuch" of relation "t" does not exist'):
            eng.execute_sql(sql)
    assert _rows(eng) == [(1, 99), (2, 7)]
    con.close()


def test_names_fold_before_generated_and_default_rules(spark, tmp_path):
    eng = Engine(spark, table_dir=str(tmp_path))
    eng.execute_sql(
        "CREATE TABLE g (k int, v int DEFAULT 4, w int GENERATED ALWAYS AS (v * 2) STORED)"
    )
    eng.execute_sql("INSERT INTO g (k, v) VALUES (1, 10)")
    with pytest.raises(ValueError, match='column "w" can only be updated to DEFAULT'):
        eng.execute_sql("UPDATE g SET W = 5")
    with pytest.raises(ValueError, match='non-DEFAULT value into column "w"'):
        eng.execute_sql("INSERT INTO g (k, v, W) VALUES (2, 3, 9)")
    eng.execute_sql("UPDATE g SET V = DEFAULT")
    assert _rows(eng, "SELECT * FROM g") == [(1, 4, 8)]


def test_explain_after_comment_plans_without_writing(both):
    eng, _ = both
    plan = eng.execute_sql("EXPLAIN -- c\nUPDATE t SET v = 1").fetchall()
    assert plan and all(len(r) == 1 for r in plan)
    assert _rows(eng) == [(1, 10)]


@pytest.mark.parametrize("begin,end,rows", [
    ("BEGIN", "COMMIT TRANSACTION", [(1, 10), (2, 20)]),
    ("START TRANSACTION", "END", [(1, 10), (2, 20)]),
    ("BEGIN WORK", "ROLLBACK WORK", [(1, 10)]),
])
def test_transaction_spellings(both, tmp_path, begin, end, rows):
    eng, _ = both
    eng.execute_sql(begin)
    eng.execute_sql("INSERT INTO t VALUES (2, 20)")
    eng.execute_sql(end)
    assert eng.catalog._txn is None
    assert _rows(eng) == rows
    # published on disk: a reopened engine reads the same rows
    assert _rows(Engine(eng.spark, table_dir=str(tmp_path))) == rows


@pytest.mark.parametrize("sql", ["BEGIN ISOLATION LEVEL SERIALIZABLE", "COMMIT AND CHAIN"])
def test_transaction_options_stay_refused(both, sql):
    with pytest.raises(ValueError, match="unrecognised DDL"):
        both[0].execute_sql(sql)


@pytest.mark.parametrize("sql,name", [
    ("EXPLAIN CREATE TEMP TABLE tt AS SELECT 1 AS a", "tt"),
    ("EXPLAIN CREATE TABLE IF NOT EXISTS tt2 AS SELECT 1 AS a", "tt2"),
    ("EXPLAIN CREATE MATERIALIZED VIEW IF NOT EXISTS mv AS SELECT 1 AS a", "mv"),
])
def test_explain_ctas_forms(both, tmp_path, sql, name):
    eng, _ = both
    before = sorted(os.listdir(tmp_path))
    plan = eng.execute_sql(sql).fetchall()
    assert plan and all(len(r) == 1 for r in plan)
    cat = eng.catalog
    assert name not in {**cat.tables, **cat.matviews, **cat.views, **cat.temp_tables}
    assert not eng.spark.catalog.tableExists(name)
    assert sorted(os.listdir(tmp_path)) == before


def test_dynamic_on_commit_delete_rows(both):
    eng, _ = both
    eng.execute_sql("CREATE TEMP TABLE dt () ON COMMIT DELETE ROWS")
    assert eng.execute_sql("INSERT INTO dt SELECT 1 AS a").fetchall() == [(1,)]
    assert _rows(eng, "SELECT count(*) FROM dt") == [(0,)]
    eng.execute_sql("BEGIN")
    eng.execute_sql("INSERT INTO dt SELECT 2 AS a")
    assert _rows(eng, "SELECT count(*) FROM dt") == [(1,)]
    eng.execute_sql("COMMIT")
    assert _rows(eng, "SELECT count(*) FROM dt") == [(0,)]


def test_no_catalog_function_exceeds_300_lines():
    tree = ast.parse(Path(catalog_mod.__file__).read_text())
    sizes = {
        f"{n.name}:{n.lineno}": n.end_lineno - n.lineno + 1
        for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    }
    assert {k: v for k, v in sizes.items() if v > 300} == {}
