"""ManagedTable's scan cache and UPDATE's assignment coercion.

``ManagedTable.df()`` keeps one frame per table version (path plus
data-file listing). These tests pin that an unchanged table returns the
same frame without a Spark job, that after every kind of write the cached
frame has the schema and rows of a fresh read, that a write by another
``ManagedTable`` on the same directory is seen (no lost update), and that
UPDATE keeps each column's stored type.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from otterbrix_spark.engine import Engine
from otterbrix_spark.operators.dml import (
    ConstraintViolation,
    ManagedTable,
    MaterializedView,
)


@pytest.fixture()
def eng(spark, tmp_path):
    return Engine(spark, table_dir=str(tmp_path))


def _jobs(spark, fn):
    """(result of ``fn()``, number of Spark jobs it submitted)."""
    sc = spark.sparkContext
    group = f"scan-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _fresh(spark, t: ManagedTable):
    """What a scan built from nothing but the directory reads."""
    if t.partition_cols:
        return ManagedTable(
            spark, t.path, partition_cols=t.partition_cols, schema_ddl=t.schema_ddl
        ).df()
    return spark.read.parquet(t.path)


def _assert_matches_fresh(spark, t: ManagedTable, step: str):
    cached, fresh = t.df(), _fresh(spark, t)
    assert cached.schema == fresh.schema, step
    assert sorted(cached.collect(), key=repr) == sorted(fresh.collect(), key=repr), step


def test_unchanged_table_returns_one_frame_without_jobs(spark, eng):
    eng.execute_sql("CREATE TABLE u (k int, v decimal(12,2))")
    eng.execute_sql("INSERT INTO u VALUES (1, 1.50), (2, 2.25)")
    t = eng.catalog.tables["u"]
    first = t.df()
    second, n = _jobs(spark, t.df)
    assert second is first
    assert n == 0
    # the probe counts jobs: a scan with no cache infers the schema
    _, n_fresh = _jobs(spark, ManagedTable(spark, t.path).df)
    assert n_fresh >= 1


_TYPED = (
    "CREATE TABLE ty (k int, i int, b bigint, v decimal(12,2), "
    "s varchar(10), d date, ts timestamp, a int[])"
)
_ROWS = (
    "INSERT INTO ty VALUES "
    "(1, 10, 100, 1.25, 'ab', DATE '2024-01-02', "
    "TIMESTAMP '2024-01-02 03:04:05', ARRAY[1, 2]), "
    "(2, 20, 200, 2.50, 'cd', DATE '2024-02-03', "
    "TIMESTAMP '2024-02-03 04:05:06', ARRAY[3]), "
    "(3, 30, 300, 3.75, 'ef', DATE '2024-03-04', "
    "TIMESTAMP '2024-03-04 05:06:07', ARRAY[4, 5, 6])"
)

# (label, statements run before the check, name of the table afterwards)
_STEPS = [
    ("insert", [_ROWS], "ty"),
    ("update", ["UPDATE ty SET v = v + 1.5, s = s || 'x' WHERE k = 1"], "ty"),
    ("update returning", ["UPDATE ty SET i = i + 1 WHERE k = 2 RETURNING *"], "ty"),
    ("delete", ["DELETE FROM ty WHERE k = 3"], "ty"),
    ("update from", ["UPDATE ty SET b = src.b FROM src WHERE ty.k = src.k"], "ty"),
    (
        "merge",
        [
            "MERGE INTO ty USING src ON ty.k = src.k "
            "WHEN MATCHED THEN UPDATE SET v = src.v "
            "WHEN NOT MATCHED THEN INSERT (k, i, b, v) "
            "VALUES (src.k, 0, src.b, src.v)"
        ],
        "ty",
    ),
    (
        "begin commit",
        [
            "BEGIN",
            "INSERT INTO ty (k, i, v) VALUES (7, 70, 7.00)",
            "UPDATE ty SET i = i * 2 WHERE k = 1",
            "COMMIT",
        ],
        "ty",
    ),
    ("truncate", ["TRUNCATE ty", _ROWS], "ty"),
    ("alter add", ["ALTER TABLE ty ADD COLUMN n int"], "ty"),
    ("alter rename", ["ALTER TABLE ty RENAME COLUMN n TO m"], "ty"),
    ("alter type", ["ALTER TABLE ty ALTER COLUMN m TYPE bigint"], "ty"),
    ("alter drop", ["ALTER TABLE ty DROP COLUMN m"], "ty"),
    ("rename table", ["ALTER TABLE ty RENAME TO ty2"], "ty2"),
    ("insert after rename", ["INSERT INTO ty2 (k, i) VALUES (9, 90)"], "ty2"),
]


def test_cached_scan_matches_fresh_read_after_every_write(spark, eng):
    eng.execute_sql(_TYPED)
    eng.execute_sql("CREATE TABLE src (k int, b bigint, v decimal(12,2))")
    eng.execute_sql("INSERT INTO src VALUES (1, 111, 9.99), (5, 555, 5.55)")
    _assert_matches_fresh(spark, eng.catalog.tables["ty"], "create")
    for label, stmts, name in _STEPS:
        for sql in stmts:
            eng.execute_sql(sql)
        _assert_matches_fresh(spark, eng.catalog.tables[name], label)


def test_partitioned_cached_scan_matches_fresh_read(spark, eng):
    eng.execute_sql(
        "CREATE TABLE pt (k bigint, seg string, v decimal(10,2)) "
        "PARTITION BY LIST (seg)"
    )
    t = eng.catalog.tables["pt"]
    for sql in (
        "INSERT INTO pt VALUES (1, 'a', 1.00), (2, 'b', 2.00), (3, 'a', 3.00)",
        "UPDATE pt SET v = v + 0.5 WHERE seg = 'a'",
        "DELETE FROM pt WHERE k = 2",
        "INSERT INTO pt VALUES (4, 'c', 4.00)",
    ):
        eng.execute_sql(sql)
        _assert_matches_fresh(spark, t, sql)
        assert [f.name for f in t.df().schema.fields] == ["k", "seg", "v"]
    assert _jobs(spark, t.df)[1] == 0


def test_foreign_append_is_seen_and_kept(spark, eng):
    eng.execute_sql("CREATE TABLE fw (k int, v int)")
    eng.execute_sql("INSERT INTO fw VALUES (1, 10)")
    mine = eng.catalog.tables["fw"]
    assert mine.df().count() == 1
    other = ManagedTable(spark, mine.path)
    other.insert(spark.createDataFrame([(2, 20)], "k int, v int"))
    assert sorted(mine.df().collect()) == [(1, 10), (2, 20)]
    # the UPDATE reads the new version, so the foreign row survives it
    mine.update(F.col("k") == 1, {"v": F.lit(11)})
    assert sorted(_fresh(spark, mine).collect()) == [(1, 11), (2, 20)]


def test_self_referencing_fk_checks_against_the_cached_frame(eng):
    """Child rows and parent keys of a self-referencing FK come from the
    same cached frame; the key join must not collapse into one column."""
    eng.execute_sql("CREATE TABLE emp (id int, mgr int)")
    eng.execute_sql("INSERT INTO emp VALUES (1, NULL)")
    eng.execute_sql("INSERT INTO emp VALUES (2, 1)")
    eng.execute_sql(
        "ALTER TABLE emp ADD CONSTRAINT fk_mgr "
        "FOREIGN KEY (mgr) REFERENCES emp (id) ON DELETE CASCADE"
    )
    eng.execute_sql("INSERT INTO emp VALUES (3, 2)")
    eng.execute_sql("UPDATE emp SET mgr = 1 WHERE id = 3")
    with pytest.raises(ConstraintViolation):
        eng.execute_sql("UPDATE emp SET mgr = 99 WHERE id = 3")
    with pytest.raises(ConstraintViolation):
        eng.execute_sql("INSERT INTO emp VALUES (4, 99)")
    eng.execute_sql("DELETE FROM emp WHERE id = 2")
    assert sorted(eng.execute_sql("SELECT * FROM emp").fetchall(), key=repr) == [
        (1, None), (3, 1)]


def test_matview_reads_through_one_cached_table(spark, eng, tmp_path):
    eng.execute_sql("CREATE TABLE mb (k int, v int)")
    eng.execute_sql("INSERT INTO mb VALUES (1, 10), (1, 5), (2, 7)")
    base = eng.catalog.tables["mb"]
    mv = MaterializedView(
        spark,
        str(tmp_path / "mv_sum"),
        lambda: base.df().groupBy("k").agg(F.sum("v").alias("total")),
    )
    assert mv.df() is mv.df()
    eng.execute_sql("INSERT INTO mb VALUES (2, 1)")
    assert dict(mv.df().collect()) == {1: 15, 2: 7}
    mv.refresh()
    assert dict(mv.df().collect()) == {1: 15, 2: 8}
    assert mv.df().schema == spark.read.parquet(mv.table.path).schema


def test_update_keeps_column_types(spark, eng):
    """PG coerces an UPDATE's SET value to the column type; without the
    cast a decimal column widened by one digit per UPDATE and an int
    column assigned 2.5 became decimal(11,1)."""
    eng.execute_sql("CREATE TABLE d (k int, i int, v decimal(12,2))")
    eng.execute_sql("INSERT INTO d VALUES (1, 1, 1.25)")
    t = eng.catalog.tables["d"]
    stored = spark.read.parquet(t.path).schema
    eng.execute_sql("UPDATE d SET v = v + 1.5")
    eng.execute_sql("UPDATE d SET v = v + 1.5")
    eng.execute_sql("UPDATE d SET i = 2.5")
    assert spark.read.parquet(t.path).schema == stored
    assert [f.dataType.simpleString() for f in stored.fields] == [
        "int", "int", "decimal(12,2)"]
    assert float(eng.execute_sql("SELECT v FROM d").value("v", 0)) == 4.25
    # same columns in, same columns out: the UPDATE rebound the scan
    assert _jobs(spark, t.df)[1] == 0
