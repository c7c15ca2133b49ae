"""Transactional type DDL (VERDICT r12 #7): ALTER TYPE / ALTER DOMAIN /
CREATE-DROP TYPE/DOMAIN inside BEGIN...ROLLBACK stage-and-roll-back
cleanly — no half-applied label CHECKs leak past an aborted txn. PG runs
these statements transactionally; RENAME VALUE's stored-row rewrites
ride the ordinary staged-DML rollback."""

from __future__ import annotations

import tempfile

import pytest

from otterbrix_spark.engine import Engine


@pytest.fixture()
def eng(spark):
    return Engine(spark, table_dir=tempfile.mkdtemp(prefix="otx-txnddl-"))


def test_alter_type_add_value_rolls_back(eng):
    eng.sql("CREATE TYPE mood AS ENUM ('sad', 'happy')")
    eng.sql("CREATE TABLE m (v mood)")
    eng.sql("BEGIN")
    eng.sql("ALTER TYPE mood ADD VALUE 'ok'")
    eng.sql("INSERT INTO m VALUES ('ok')")  # usable inside the txn
    eng.sql("ROLLBACK")
    assert eng.catalog.types["mood"]["labels"] == ["sad", "happy"]
    # the label CHECK reverted with the labels — 'ok' refused again
    with pytest.raises(Exception):
        eng.sql("INSERT INTO m VALUES ('ok')")
    # the staged row died with the txn
    assert eng.sql("SELECT COUNT(*) FROM m").collect()[0][0] == 0
    eng.sql("INSERT INTO m VALUES ('sad')")


def test_alter_type_rename_value_rolls_back_rows_and_labels(eng):
    eng.sql("CREATE TYPE mood AS ENUM ('sad', 'happy')")
    eng.sql("CREATE TABLE m (v mood)")
    eng.sql("INSERT INTO m VALUES ('sad'), ('happy')")
    eng.sql("BEGIN")
    eng.sql("ALTER TYPE mood RENAME VALUE 'sad' TO 'down'")
    assert eng.sql(
        "SELECT COUNT(*) FROM m WHERE v = 'down'"
    ).collect()[0][0] == 1
    eng.sql("ROLLBACK")
    assert eng.catalog.types["mood"]["labels"] == ["sad", "happy"]
    rows = sorted(r[0] for r in eng.sql("SELECT v FROM m").collect())
    assert rows == ["happy", "sad"]
    with pytest.raises(Exception):
        eng.sql("INSERT INTO m VALUES ('down')")


def test_alter_type_commit_publishes(eng):
    eng.sql("CREATE TYPE mood AS ENUM ('sad')")
    eng.sql("CREATE TABLE m (v mood)")
    eng.sql("BEGIN")
    eng.sql("ALTER TYPE mood ADD VALUE 'ok'")
    eng.sql("INSERT INTO m VALUES ('ok')")
    eng.sql("COMMIT")
    assert eng.catalog.types["mood"]["labels"] == ["sad", "ok"]
    assert eng.sql("SELECT v FROM m").collect()[0][0] == "ok"


def test_create_type_rolls_back(eng):
    eng.sql("BEGIN")
    eng.sql("CREATE TYPE tcolor AS ENUM ('r', 'g')")
    assert "tcolor" in eng.catalog.types
    eng.sql("ROLLBACK")
    assert "tcolor" not in eng.catalog.types


def test_drop_type_rolls_back(eng):
    eng.sql("CREATE TYPE tcolor AS ENUM ('r', 'g')")
    eng.sql("BEGIN")
    eng.sql("DROP TYPE tcolor")
    assert "tcolor" not in eng.catalog.types
    eng.sql("ROLLBACK")
    assert eng.catalog.types["tcolor"]["labels"] == ["r", "g"]


def test_alter_domain_add_constraint_rolls_back(eng):
    eng.sql("CREATE DOMAIN sc AS INT CHECK (VALUE >= 0)")
    eng.sql("CREATE TABLE a (v sc)")
    eng.sql("INSERT INTO a VALUES (50)")
    eng.sql("BEGIN")
    eng.sql("ALTER DOMAIN sc ADD CONSTRAINT cap CHECK (VALUE <= 100)")
    eng.sql("ROLLBACK")
    assert [c["name"] for c in eng.catalog.types["sc"]["checks"]] == ["sc_check1"]
    eng.sql("INSERT INTO a VALUES (200)")  # cap gone with the rollback
    with pytest.raises(Exception):
        eng.sql("INSERT INTO a VALUES (-1)")  # original check still live


def test_create_domain_rolls_back(eng):
    eng.sql("BEGIN")
    eng.sql("CREATE DOMAIN tmp_d AS INT CHECK (VALUE > 0)")
    eng.sql("ROLLBACK")
    assert "tmp_d" not in eng.catalog.types
    # the name is reusable with a different definition
    eng.sql("CREATE DOMAIN tmp_d AS TEXT")


def test_savepoint_partial_rollback_of_type_ddl(eng):
    eng.sql("CREATE TYPE mood AS ENUM ('sad')")
    eng.sql("CREATE TABLE m (v mood)")
    eng.sql("BEGIN")
    eng.sql("ALTER TYPE mood ADD VALUE 'ok'")
    eng.sql("SAVEPOINT s1")
    eng.sql("ALTER TYPE mood ADD VALUE 'great'")
    assert eng.catalog.types["mood"]["labels"] == ["sad", "ok", "great"]
    eng.sql("ROLLBACK TO s1")
    # 'great' undone, 'ok' (pre-savepoint) kept
    assert eng.catalog.types["mood"]["labels"] == ["sad", "ok"]
    # the savepoint survives a rollback to it (PG) — usable twice
    eng.sql("ALTER TYPE mood ADD VALUE 'meh'")
    eng.sql("ROLLBACK TO s1")
    assert eng.catalog.types["mood"]["labels"] == ["sad", "ok"]
    eng.sql("COMMIT")
    assert eng.catalog.types["mood"]["labels"] == ["sad", "ok"]
    eng.sql("INSERT INTO m VALUES ('ok')")
    with pytest.raises(Exception):
        eng.sql("INSERT INTO m VALUES ('great')")
