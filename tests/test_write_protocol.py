"""The managed-table write protocol: one Spark action per autocommit write.

A write takes its affected-row count, and for UPDATE…FROM and MERGE the
multi-match guard's counts, with ``DataFrame.observe`` during the staged
write itself, then runs its checks and commits (stage → verify → commit).
These tests pin that the observed counts equal a ``count()`` oracle and
DuckDB's, that a refused write leaves the table's files as they were with
no staged directory behind, how many Spark jobs each write shape runs, and
two self-referencing foreign-key cases. Also: RETURNING rows of repeated
statements, zero-row status frames, correlated subqueries naming the
target table, SET subqueries with their own WHERE, and the type text
write paths cast to.
"""

from __future__ import annotations

import os
import uuid

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from otterbrix_spark.engine import Engine
from otterbrix_spark.operators.dml import ConstraintViolation, sql_type

_SETUP = (
    "CREATE TABLE t (k int, v int)",
    "CREATE TABLE s (k int, v int)",
    "CREATE TABLE e (k int, v int)",
    "INSERT INTO t VALUES (1, 10), (2, 20), (3, 30), (4, 40)",
    "INSERT INTO s VALUES (2, 5), (3, -1), (4, 7), (9, 90)",
)


@pytest.fixture()
def eng(spark, tmp_path):
    return Engine(spark, table_dir=str(tmp_path))


@pytest.fixture()
def both(eng):
    """The engine and a DuckDB connection holding the same tables: ``t``
    and ``s`` overlap on keys 2-4, ``e`` is empty."""
    con = duckdb.connect()
    for sql in _SETUP:
        eng.execute_sql(sql)
        con.execute(sql)
    yield eng, con
    con.close()


def _jobs(spark, fn):
    """(result of ``fn()``, number of Spark jobs it submitted)."""
    sc = spark.sparkContext
    group = f"write-protocol-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _count(eng, sql: str) -> int:
    return eng.execute_sql(sql).fetchall()[0][0]


def _rows(db, table: str) -> list[tuple]:
    """``table``'s rows, sorted, from the engine or a DuckDB connection."""
    run = db.execute if isinstance(db, duckdb.DuckDBPyConnection) else db.execute_sql
    return sorted((tuple(r) for r in run(f"SELECT * FROM {table}").fetchall()), key=repr)


def _check(both, sql: str, oracle: str, duck: tuple[str, ...] | None = None):
    """Run ``sql`` on the engine and its DuckDB replay (``duck``, default
    ``sql`` itself): the engine's status count must equal ``oracle``'s
    ``count()`` taken before the write and DuckDB's summed DML counts, and
    ``t`` must hold the same rows on both."""
    eng, con = both
    want = _count(eng, oracle)
    got = eng.execute_sql(sql).fetchall()
    duck_n = sum(con.execute(q).fetchall()[0][0] for q in (duck or (sql,)))
    assert got == [(want,)], sql
    assert want == duck_n, sql
    assert _rows(eng, "t") == _rows(con, "t"), sql
    return want


def test_insert_select_of_zero_rows(both):
    _check(
        both,
        "INSERT INTO t SELECT k, v FROM s WHERE k < 0",
        "SELECT count(*) FROM s WHERE k < 0",
    )


def test_delete_where_false_and_where_true(both):
    _check(both, "DELETE FROM t WHERE false", "SELECT count(*) FROM t WHERE false")
    _check(both, "DELETE FROM t WHERE k >= 3", "SELECT count(*) FROM t WHERE k >= 3")
    # a literal-true predicate lets Spark prune the observed scan; the
    # count must still be right
    _check(both, "DELETE FROM t WHERE true", "SELECT count(*) FROM t")


@pytest.mark.parametrize(
    "extra, n",
    [("AND s.k = 9", 0), ("AND s.k = 2", 1), ("", 3)],
    ids=["0-matches", "1-match", "n-matches"],
)
def test_update_from_counts(both, extra, n):
    sql = f"UPDATE t SET v = t.v + s.v FROM s WHERE t.k = s.k {extra}"
    _check(
        both, sql, f"SELECT count(*) FROM t JOIN s ON t.k = s.k {extra}"
    )
    assert _count(both[0], f"SELECT count(*) FROM t JOIN s ON t.k = s.k {extra}") == n


def test_update_from_self_join(both):
    _check(
        both,
        "UPDATE t SET v = p.v FROM t p WHERE t.k = p.k + 1",
        "SELECT count(*) FROM t JOIN t p ON t.k = p.k + 1",
    )


def test_update_from_empty_target_and_empty_source(both):
    _check(
        both,
        "UPDATE e SET v = s.v FROM s WHERE e.k = s.k",
        "SELECT count(*) FROM e JOIN s ON e.k = s.k",
    )
    _check(
        both,
        "UPDATE t SET v = e.v FROM e WHERE t.k = e.k",
        "SELECT count(*) FROM t JOIN e ON t.k = e.k",
    )


_MERGE = (
    "MERGE INTO t USING {src} ON t.k = {src}.k "
    "WHEN MATCHED AND {src}.v > 0 THEN UPDATE SET v = t.v + {src}.v "
    "WHEN MATCHED THEN DELETE "
    "WHEN NOT MATCHED THEN INSERT VALUES ({src}.k, {src}.v)"
)
_MERGE_ORACLE = (
    "SELECT (SELECT count(*) FROM t JOIN {src} ON t.k = {src}.k) + "
    "(SELECT count(*) FROM {src} LEFT ANTI JOIN t ON t.k = {src}.k)"
)


def _merge(both, src: str) -> int:
    """The MERGE on the engine; on DuckDB (no MERGE) its clauses as
    DELETE, UPDATE and INSERT against a snapshot of ``t``."""
    both[1].execute("CREATE OR REPLACE TEMP TABLE t0 AS SELECT * FROM t")
    return _check(
        both,
        _MERGE.format(src=src),
        _MERGE_ORACLE.format(src=src),
        (
            f"DELETE FROM t USING {src} WHERE t.k = {src}.k AND NOT ({src}.v > 0)",
            f"UPDATE t SET v = t.v + {src}.v FROM {src} "
            f"WHERE t.k = {src}.k AND {src}.v > 0",
            f"INSERT INTO t SELECT k, v FROM {src} "
            "WHERE k NOT IN (SELECT k FROM t0)",
        ),
    )


def test_merge_update_delete_insert(both):
    # keys 2 and 4 update, 3 deletes, 9 inserts
    assert _merge(both, "s") == 4


def test_merge_empty_source_and_empty_target(both):
    assert _merge(both, "e") == 0
    eng, con = both
    eng.execute_sql("DELETE FROM t")
    con.execute("DELETE FROM t")
    # empty target: every source row inserts
    assert _merge(both, "s") == 4


def _listing(path: str) -> list[tuple]:
    out = []
    for root, _, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            out.append((os.path.relpath(p, path), os.path.getsize(p)))
    return sorted(out)


@pytest.mark.parametrize(
    "sql",
    [
        "UPDATE t SET v = s.v FROM s WHERE t.k = s.k",
        "MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v",
    ],
    ids=["update-from", "merge"],
)
def test_refused_multimatch_leaves_table_untouched(eng, tmp_path, sql):
    for stmt in _SETUP + ("INSERT INTO s VALUES (2, 6)",):
        eng.execute_sql(stmt)
    table = eng.catalog.tables["t"]
    before, rows = _listing(table.path), _rows(eng, "t")
    with pytest.raises(ConstraintViolation, match="multiple source rows"):
        eng.execute_sql(sql)
    assert _listing(table.path) == before
    assert _rows(eng, "t") == rows
    assert not [n for n in os.listdir(tmp_path) if n.startswith(".t-")]


def test_multimatch_refused_inside_a_transaction(eng):
    for stmt in _SETUP + ("INSERT INTO s VALUES (2, 6)",):
        eng.execute_sql(stmt)
    eng.execute_sql("BEGIN")
    with pytest.raises(ConstraintViolation, match="multiple source rows"):
        eng.execute_sql("UPDATE t SET v = s.v FROM s WHERE t.k = s.k")
    assert eng.execute_sql(
        "UPDATE t SET v = s.v FROM s WHERE t.k = s.k AND s.k > 2"
    ).fetchall() == [(2,)]
    eng.execute_sql("COMMIT")
    assert _rows(eng, "t") == [(1, 10), (2, 20), (3, -1), (4, 7)]


def test_status_frame_runs_no_job(spark, eng):
    for stmt in _SETUP:
        eng.execute_sql(stmt)
    cur = eng.execute_sql("DELETE FROM t WHERE k = 1")
    rows, n = _jobs(spark, cur.fetchall)
    assert rows == [(1,)] and n == 0
    assert cur.df.schema.simpleString() == "struct<deleted:int>"


def test_zero_row_status_fetch_runs_no_job(spark, eng):
    """BEGIN, COMMIT and DDL answer with a zero-row frame named for the
    verb; fetching it runs no Spark job."""
    eng.execute_sql("CREATE TABLE t (k int, v int)")
    for sql, col in (
        ("BEGIN", "txn"),
        ("INSERT INTO t VALUES (1, 10)", None),
        ("COMMIT", "txn"),
        ("CREATE INDEX t_k ON t (k)", "created"),
    ):
        cur = eng.execute_sql(sql)
        if col is None:
            continue
        rows, n = _jobs(spark, cur.fetchall)
        assert rows == [] and n == 0, sql
        assert cur.df.schema == StructType([StructField(col, StringType(), False)])
    assert _rows(eng, "t") == [(1, 10)]


@pytest.mark.parametrize(
    "pre, sql, ceiling",
    [
        (None, "INSERT INTO t VALUES (7, 70)", 1),
        (None, "DELETE FROM t WHERE k = 7", 1),
        (None, "UPDATE t SET v = s.v FROM s WHERE t.k = s.k", 2),
        (
            None,
            "MERGE INTO t USING s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = t.v + s.v",
            2,
        ),
        (
            "DELETE FROM t WHERE k = 9",
            "MERGE INTO t USING s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = t.v + s.v "
            "WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.v)",
            1,
        ),
        (None, "UPDATE t SET v = v + 1 WHERE k = 1 RETURNING v", 3),
        ("INSERT INTO t VALUES (8, 80)", "DELETE FROM t WHERE k = 8 RETURNING v", 3),
        (None, "INSERT INTO t VALUES (7, 70) RETURNING v", 1),
        (None, "UPDATE t SET v = s.v FROM s WHERE t.k = s.k RETURNING v", 5),
        (
            "INSERT INTO t VALUES (2, 21)",
            "DELETE FROM t USING s WHERE t.k = s.k AND s.k = 2 RETURNING t.v",
            5,
        ),
        ("BEGIN", "UPDATE t SET v = v + 1 WHERE k = 1", 1),
        ("BEGIN", "INSERT INTO t VALUES (7, 70)", 1),
        ("BEGIN", "UPDATE t SET v = s.v FROM s WHERE t.k = s.k", 2),
        (None, "EXPLAIN UPDATE t SET v = v + 1 WHERE k = 1", 1),
        (None, "EXPLAIN UPDATE t SET v = s.v FROM s WHERE t.k = s.k", 1),
        (None, "EXPLAIN DELETE FROM t USING s WHERE t.k = s.k", 1),
        (
            None,
            "EXPLAIN MERGE INTO t USING s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = t.v + s.v",
            1,
        ),
    ],
    ids=[
        "insert", "delete", "update-from", "merge", "merge-insert",
        "update-returning", "delete-returning", "insert-returning",
        "update-from-returning", "delete-using-returning",
        "update-txn", "insert-txn", "update-from-txn",
        "explain-update", "explain-update-from", "explain-delete-using",
        "explain-merge",
    ],
)
def test_write_job_ceiling(spark, eng, pre, sql, ceiling):
    """On an unconstrained table a write runs one action, the staged
    write: one job, plus one broadcast job per join side Spark broadcasts
    (the source, for the LEFT join of UPDATE…FROM and a matched-only
    MERGE; a MERGE that inserts joins FULL OUTER, which over one-partition
    tables needs no exchange and no broadcast). Fetching its status runs
    nothing. RETURNING adds the pin of its rows and their fetch; inside a
    transaction one pass takes the count and nothing is written; plain
    EXPLAIN runs no pass and no check, only the fetch of its plan text.
    ``pre`` runs before each run (``BEGIN``: each run is rolled back)."""
    for stmt in _SETUP:
        eng.execute_sql(stmt)
    for _ in range(2):  # warm (the table's scan is cached), then measure
        if pre:
            eng.execute_sql(pre)
        _, n = _jobs(spark, lambda: eng.execute_sql(sql).fetchall())
        if pre == "BEGIN":
            eng.execute_sql("ROLLBACK")
    assert 1 <= n <= ceiling
    if sql.startswith("EXPLAIN"):
        assert _rows(eng, "t") == [(1, 10), (2, 20), (3, 30), (4, 40)]


# -- RETURNING resolves before anything is written -------------------------

_RETURNING = (
    "INSERT INTO t VALUES (5, 50) RETURNING {}",
    "UPDATE t SET v = v + 1 WHERE k = 1 RETURNING {}",
    "DELETE FROM t WHERE k = 1 RETURNING {}",
    "UPDATE t SET v = s.v FROM s WHERE t.k = s.k RETURNING {}",
    "DELETE FROM t USING s WHERE t.k = s.k RETURNING {}",
)
_RETURNING_IDS = ["insert", "update", "delete", "update-from", "delete-using"]


@pytest.mark.parametrize("txn", [False, True], ids=["autocommit", "txn"])
@pytest.mark.parametrize("sql", _RETURNING, ids=_RETURNING_IDS)
def test_returning_qualified_by_target_name(both, sql, txn):
    """RETURNING may qualify a column by the target table's name, as in
    PG; rows and table match DuckDB's."""
    eng, con = both
    sql = sql.format("t.k, t.v")
    if txn:
        eng.execute_sql("BEGIN")
    got = eng.execute_sql(sql).fetchall()
    if txn:
        eng.execute_sql("COMMIT")
    want = con.execute(sql).fetchall()
    assert sorted(map(tuple, got)) == sorted(want)
    assert _rows(eng, "t") == _rows(con, "t")


@pytest.mark.parametrize("txn", [False, True], ids=["autocommit", "txn"])
def test_returning_qualified_by_target_alias(both, txn):
    eng, con = both
    sql = "DELETE FROM t AS x USING s WHERE x.k = s.k AND s.v > 0 RETURNING x.k"
    got = eng.execute_sql(f"BEGIN; {sql}" if txn else sql).fetchall()
    if txn:
        eng.execute_sql("COMMIT")
    assert sorted(map(tuple, got)) == sorted(con.execute(sql).fetchall())
    assert _rows(eng, "t") == _rows(con, "t")


def _upsert_tables(eng):
    for stmt in (
        "CREATE TABLE u (k int PRIMARY KEY, v int DEFAULT 99)",
        "INSERT INTO u VALUES (1, 10), (2, 20)",
        "CREATE TABLE us (k int, v int)",
        "INSERT INTO us VALUES (1, 5), (2, 7)",
    ):
        eng.execute_sql(stmt)


@pytest.mark.parametrize("txn", [False, True], ids=["autocommit", "txn"])
@pytest.mark.parametrize(
    "sql",
    [*_RETURNING, "INSERT INTO u VALUES (1, 3) ON CONFLICT (k) DO UPDATE "
     "SET v = EXCLUDED.v RETURNING {}"],
    ids=[*_RETURNING_IDS, "on-conflict"],
)
def test_unknown_returning_column_writes_nothing(eng, sql, txn):
    """A RETURNING list naming no column of the affected rows refuses the
    statement before it writes: the table's files are as they were, and
    inside a transaction the staged frame is too."""
    from pyspark.errors import AnalysisException

    for stmt in _SETUP:
        eng.execute_sql(stmt)
    _upsert_tables(eng)
    name = "u" if "INTO u" in sql else "t"
    paths = [eng.catalog.tables[n].path for n in ("t", "u")]
    before = [_listing(p) for p in paths]
    rows = _rows(eng, name)
    if txn:
        eng.execute_sql("BEGIN")
        eng.execute_sql(f"UPDATE {name} SET v = 0 WHERE k = 2")
        staged = eng.catalog._txn[name]
        rows = _rows(eng, name)
    with pytest.raises(AnalysisException, match="nosuch"):
        eng.execute_sql(sql.format("nosuch"))
    assert [_listing(p) for p in paths] == before
    assert _rows(eng, name) == rows
    if txn:
        assert eng.catalog._txn[name] is staged
        eng.execute_sql("ROLLBACK")


@pytest.mark.parametrize("txn", [False, True], ids=["autocommit", "txn"])
def test_on_conflict_returning_qualified_by_target_name(eng, txn):
    con = duckdb.connect()
    for stmt in (
        "CREATE TABLE u (k int PRIMARY KEY, v int)",
        "INSERT INTO u VALUES (1, 10), (2, 20)",
    ):
        eng.execute_sql(stmt)
        con.execute(stmt)
    sql = (
        "INSERT INTO u VALUES (1, 3), (5, 50) ON CONFLICT (k) "
        "DO UPDATE SET v = EXCLUDED.v RETURNING u.k, u.v"
    )
    got = eng.execute_sql(f"BEGIN; {sql}" if txn else sql).fetchall()
    if txn:
        eng.execute_sql("COMMIT")
    assert sorted(map(tuple, got)) == sorted(con.execute(sql).fetchall())
    assert _rows(eng, "u") == _rows(con, "u")
    con.close()


# -- INSERT ... ON CONFLICT builds its rows as INSERT does ------------------


@pytest.mark.parametrize("txn", [False, True], ids=["autocommit", "txn"])
def test_on_conflict_set_subquery_with_its_own_where(eng, txn):
    """The statement's own DO UPDATE ... WHERE is found outside the SET
    subquery's parentheses. PG upserts one row: key 1 takes the subquery's
    7, key 2 fails the WHERE and keeps 20. (DuckDB refuses subqueries in
    DO UPDATE SET, so the expected rows are PG's.)"""
    _upsert_tables(eng)
    sql = (
        "INSERT INTO u VALUES (1, 0), (2, 0) ON CONFLICT (k) DO UPDATE "
        "SET v = (SELECT max(v) FROM us WHERE us.k > 1) WHERE u.v < 15"
    )
    got = eng.execute_sql(f"BEGIN; {sql}" if txn else sql).fetchall()
    if txn:
        eng.execute_sql("COMMIT")
    assert got == [(1,)]
    assert _rows(eng, "u") == [(1, 7), (2, 20)]


@pytest.mark.parametrize(
    "sql",
    [
        "INSERT INTO u VALUES (3) ON CONFLICT (k) DO NOTHING",
        "INSERT INTO u VALUES (3)",
    ],
    ids=["on-conflict", "insert"],
)
def test_short_values_row_takes_defaults(eng, sql):
    """A VALUES row shorter than the table fills the leading columns; the
    rest take their DEFAULT, with or without ON CONFLICT. DuckDB needs the
    column list spelled out for the same rows."""
    con = duckdb.connect()
    _upsert_tables(eng)
    for stmt in (
        "CREATE TABLE u (k int PRIMARY KEY, v int DEFAULT 99)",
        "INSERT INTO u VALUES (1, 10), (2, 20)",
    ):
        con.execute(stmt)
    assert eng.execute_sql(sql).fetchall() == [(1,)]
    con.execute(sql.replace("INTO u VALUES", "INTO u (k) VALUES"))
    assert _rows(eng, "u") == _rows(con, "u") == [(1, 10), (2, 20), (3, 99)]
    con.close()


# -- WHERE CURRENT OF ----------------------------------------------------


@pytest.mark.parametrize("txn", [False, True], ids=["autocommit", "txn"])
def test_where_current_of(both, txn):
    """Positioned UPDATE and DELETE change the row under the cursor; a
    second positioned UPDATE re-updates the post-update row. DuckDB runs
    the same writes keyed by the row's ``k``."""
    eng, con = both
    hold = "" if txn else " WITH HOLD"
    if txn:
        eng.execute_sql("BEGIN")
    eng.execute_sql(f"DECLARE c CURSOR{hold} FOR SELECT * FROM t ORDER BY k")
    steps = [
        ("UPDATE t SET v = v + 100 WHERE {}", "k = 1"),
        ("DELETE FROM t WHERE {} RETURNING k, v", "k = 2"),
        ("UPDATE t SET v = v * 2 WHERE {} RETURNING v", "k = 3"),
        ("UPDATE t SET v = v * 2 WHERE {}", "k = 3"),
    ]
    fetched = None
    for sql, key in steps:
        if key != fetched:
            eng.execute_sql("FETCH NEXT FROM c").fetchall()
            fetched = key
        got = eng.execute_sql(sql.format("CURRENT OF c")).fetchall()
        want = con.execute(sql.format(key)).fetchall()
        assert sorted(map(tuple, got)) == sorted(want), sql
    eng.execute_sql("CLOSE c")
    if txn:
        eng.execute_sql("COMMIT")
    assert _rows(eng, "t") == _rows(con, "t") == [(1, 110), (3, 120), (4, 40)]


# -- self-referencing foreign keys ---------------------------------------


@pytest.mark.parametrize("txn", [False, True], ids=["autocommit", "txn"])
@pytest.mark.parametrize(
    "sql",
    ["DELETE FROM r WHERE id = 2", "DELETE FROM r USING d WHERE r.id = d.k"],
    ids=["delete", "delete-using"],
)
def test_delete_keeps_self_fk_set_null(eng, sql, txn):
    eng.execute_sql("CREATE TABLE r (id int, p int)")
    eng.execute_sql("INSERT INTO r VALUES (2, NULL), (3, 2)")
    eng.execute_sql(
        "ALTER TABLE r ADD CONSTRAINT fk_p FOREIGN KEY (p) "
        "REFERENCES r (id) ON DELETE SET NULL"
    )
    eng.execute_sql("CREATE TABLE d (k int)")
    eng.execute_sql("INSERT INTO d VALUES (2)")
    eng.execute_sql(f"BEGIN; {sql}; COMMIT" if txn else sql)
    assert eng.execute_sql("SELECT * FROM r").fetchall() == [(3, None)]


@pytest.mark.parametrize("txn", [False, True], ids=["autocommit", "txn"])
def test_positioned_delete_keeps_self_fk_cascade(eng, txn):
    """DELETE ... WHERE CURRENT OF applies a self-referencing FK's ON
    DELETE CASCADE like a plain DELETE does."""
    eng.execute_sql("CREATE TABLE r (id int, p int)")
    eng.execute_sql("INSERT INTO r VALUES (1, NULL), (2, 1), (3, 2)")
    eng.execute_sql(
        "ALTER TABLE r ADD CONSTRAINT fk_p FOREIGN KEY (p) "
        "REFERENCES r (id) ON DELETE CASCADE"
    )
    hold = "" if txn else " WITH HOLD"
    eng.execute_sql(
        ("BEGIN; " if txn else "")
        + f"DECLARE c CURSOR{hold} FOR SELECT * FROM r ORDER BY id"
    )
    eng.execute_sql("FETCH 2 FROM c").fetchall()
    assert eng.execute_sql("DELETE FROM r WHERE CURRENT OF c").fetchall() == [(1,)]
    eng.execute_sql("CLOSE c" + ("; COMMIT" if txn else ""))
    assert _rows(eng, "r") == [(1, None)]


def test_multirow_insert_may_reference_its_own_rows(eng):
    eng.execute_sql("CREATE TABLE emp (id int, mgr int)")
    eng.execute_sql(
        "ALTER TABLE emp ADD CONSTRAINT fk_mgr "
        "FOREIGN KEY (mgr) REFERENCES emp (id)"
    )
    eng.execute_sql("INSERT INTO emp VALUES (1, NULL), (2, 1), (3, 2)")
    assert _rows(eng, "emp") == [(1, None), (2, 1), (3, 2)]
    with pytest.raises(ConstraintViolation, match="dangling"):
        eng.execute_sql("INSERT INTO emp VALUES (4, 3), (5, 99)")
    assert len(_rows(eng, "emp")) == 3


def _cached_entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


@pytest.mark.parametrize(
    "sql, want",
    [
        ("UPDATE t SET v = v + 1 WHERE k = 1 RETURNING v", [11, 12, 13]),
        (
            "UPDATE t SET v = t.v + s.v FROM s WHERE t.k = s.k AND t.k = 2 "
            "RETURNING v",
            [25, 30, 35],
        ),
    ],
    ids=["update", "update-from"],
)
def test_returning_rows_follow_each_update(spark, both, sql, want):
    """RETURNING shows each statement's own rows. Pinned with ``cache()``,
    the next identical statement was served the first one's rows: the
    CacheManager matches a scan by its directory, and the swap that
    replaces the files is a rename Spark never sees."""
    eng, _ = both
    before = _cached_entries(spark)
    got = [eng.execute_sql(sql).fetchall() for _ in want]
    assert got == [[(v,)] for v in want]
    assert _cached_entries(spark) == before


def test_returning_rows_follow_each_delete(spark, eng):
    eng.execute_sql("CREATE TABLE t (k int, v int)")
    before = _cached_entries(spark)
    got = []
    for v in (30, 31, 32):
        eng.execute_sql(f"INSERT INTO t VALUES (3, {v})")
        got.append(eng.execute_sql("DELETE FROM t WHERE k = 3 RETURNING v").fetchall())
    assert got == [[(30,)], [(31,)], [(32,)]]
    assert _cached_entries(spark) == before


_EMP = (
    "CREATE TABLE emp (id int, mgr int, v int)",
    "INSERT INTO emp VALUES (1, NULL, 10), (2, 1, 20), (3, 1, 5), "
    "(4, 2, 1), (5, 2, 30)",
)


@pytest.mark.parametrize("txn", [False, True], ids=["autocommit", "txn"])
@pytest.mark.parametrize(
    "sql",
    [
        "UPDATE emp SET v = v * 2 WHERE v < "
        "(SELECT max(e2.v) FROM emp e2 WHERE e2.mgr = emp.id)",
        "DELETE FROM emp WHERE v > "
        "(SELECT min(e2.v) FROM emp e2 WHERE e2.mgr = emp.id)",
    ],
    ids=["update", "delete"],
)
def test_correlated_subquery_on_target_name(eng, sql, txn):
    """A subquery in WHERE may reference the target row by the table's
    name, as in PG; the rows match DuckDB's."""
    con = duckdb.connect()
    for stmt in _EMP:
        eng.execute_sql(stmt)
        con.execute(stmt)
    eng.execute_sql(f"BEGIN; {sql}; COMMIT" if txn else sql)
    con.execute(sql)
    assert _rows(eng, "emp") == _rows(con, "emp")
    con.close()


@pytest.mark.parametrize("txn", [False, True], ids=["autocommit", "txn"])
@pytest.mark.parametrize(
    "sql",
    [
        "UPDATE emp SET v = (SELECT sum(e2.v) FROM emp e2 WHERE e2.id <= emp.id) "
        "WHERE emp.id > 2",
        "UPDATE emp SET v = (SELECT count(*) FROM emp e2 WHERE e2.mgr = emp.id), "
        "mgr = (SELECT min(e2.id) FROM emp e2) WHERE emp.v >= 10 "
        "RETURNING id, v",
    ],
    ids=["sum", "count-returning"],
)
def test_update_set_subquery_with_its_own_where(eng, sql, txn):
    """A SET subquery's own FROM and WHERE do not end the SET list: the
    statement's clauses are found outside parentheses. Rows match
    DuckDB's."""
    con = duckdb.connect()
    for stmt in _EMP:
        eng.execute_sql(stmt)
        con.execute(stmt)
    got = eng.execute_sql(f"BEGIN; {sql}; COMMIT" if txn else sql).fetchall()
    want = con.execute(sql).fetchall()
    if "RETURNING" in sql and not txn:
        assert sorted(map(tuple, got)) == sorted(want)
    assert _rows(eng, "emp") == _rows(con, "emp")
    con.close()


@pytest.mark.parametrize(
    "ddl",
    [
        "tinyint", "smallint", "int", "bigint", "float", "double",
        "decimal(12,2)", "decimal(38,0)", "boolean", "string", "binary",
        "date", "timestamp", "timestamp_ntz", "time(6)",
        "interval day to second", "interval year to month",
        "string collate UNICODE_CI", "array<int>", "map<string,bigint>",
        "struct<a:int,`b c`:array<string>,`d``e`:struct<x:double>>",
        "array<struct<k:string,v:map<int,decimal(10,3)>>>",
    ],
)
def test_cast_type_text_spells_the_type(spark, ddl):
    """Write paths cast to ``sql_type(f.dataType)``: the text must name
    exactly the type the schema holds."""
    dt = spark.range(1).select(F.lit(None).cast(ddl).alias("c")).schema[0].dataType
    text = sql_type(dt)
    assert isinstance(text, str), dt
    got = spark.range(1).select(F.lit(None).cast(text).alias("c")).schema[0].dataType
    assert got == dt


def test_cast_type_text_keeps_what_text_cannot_spell():
    """Types SQL text cannot spell exactly stay ``DataType`` objects."""
    from pyspark.ml.linalg import VectorUDT
    from pyspark.sql.types import ArrayType, IntegerType

    for dt in (
        VectorUDT(),
        ArrayType(IntegerType(), containsNull=False),
        StructType([StructField("a", IntegerType(), nullable=False)]),
        StructType([StructField("a", IntegerType(), metadata={"comment": "x"})]),
    ):
        assert sql_type(dt) is dt
