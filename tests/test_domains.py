"""PG CREATE DOMAIN (x30): named scalar types with DEFAULT / NOT NULL /
CHECK(VALUE) constraints, per-column instantiation, dependency-checked
DROP, reopen persistence."""

from __future__ import annotations

import tempfile

import pytest

from otterbrix_spark.catalog import Catalog
from otterbrix_spark.engine import Engine


@pytest.fixture()
def eng(spark):
    return Engine(spark, table_dir=tempfile.mkdtemp(prefix="otx-dom-"))


def test_domain_checks_default_notnull(eng):
    eng.sql("CREATE DOMAIN posint AS INT CHECK (VALUE > 0) NOT NULL")
    eng.sql("CREATE DOMAIN nm AS TEXT DEFAULT 'anon' CHECK (length(VALUE) <= 8)")
    eng.sql("CREATE TABLE t (id posint, who nm)")
    eng.sql("INSERT INTO t (id) VALUES (5)")
    assert eng.sql("SELECT * FROM t").collect()[0][1] == "anon"
    for bad in (
        "INSERT INTO t (id, who) VALUES (-1, 'x')",
        "INSERT INTO t (id, who) VALUES (NULL, 'x')",
        "INSERT INTO t (id, who) VALUES (7, 'waytoolongname')",
    ):
        with pytest.raises(Exception):
            eng.sql(bad)
    # column-level DEFAULT wins over the domain's
    eng.sql("CREATE TABLE t2 (who nm DEFAULT 'other')")
    eng.sql("INSERT INTO t2 VALUES (DEFAULT)")
    assert eng.sql("SELECT who FROM t2").collect()[0][0] == "other"


def test_domain_null_allowed_without_notnull(eng):
    eng.sql("CREATE DOMAIN score AS INT CHECK (VALUE BETWEEN 0 AND 100)")
    eng.sql("CREATE TABLE s (v score)")
    eng.sql("INSERT INTO s VALUES (NULL)")  # PG: NULL passes bare CHECK
    assert eng.sql("SELECT COUNT(*) FROM s").collect()[0][0] == 1


def test_drop_domain_dependency(eng):
    eng.sql("CREATE DOMAIN d1 AS INT CHECK (VALUE <> 0)")
    eng.sql("CREATE TABLE u (v d1)")
    with pytest.raises(ValueError, match="depend"):
        eng.sql("DROP DOMAIN d1")
    eng.sql("DROP TABLE u")
    eng.sql("DROP DOMAIN d1")
    assert "d1" not in eng.catalog.types


def test_duplicate_domain_refused(eng):
    eng.sql("CREATE DOMAIN dd AS INT")
    with pytest.raises(ValueError, match="already exists"):
        eng.sql("CREATE DOMAIN dd AS TEXT")


def test_domain_persists_across_reopen(eng):
    eng.sql("CREATE DOMAIN nm AS TEXT CHECK (length(VALUE) <= 4)")
    eng.sql("CREATE TABLE p (who nm)")
    reopened = Catalog(eng.spark, eng.catalog.base_dir)
    assert reopened.types["nm"]["kind"] == "domain"
    assert reopened.domain_uses == {"p": {"nm": ["who"]}}
    with pytest.raises(ValueError, match="depend"):
        reopened.route("DROP DOMAIN nm")


def test_pg_type_lists_domains_with_typtype(eng):
    eng.sql("CREATE DOMAIN dscore AS INT CHECK (VALUE >= 0)")
    eng.sql("CREATE TYPE mood AS ENUM ('sad', 'ok', 'happy')")
    rows = {
        r[0]: r[1]
        for r in eng.sql(
            "SELECT typname, typtype FROM pg_type "
            "WHERE typname IN ('dscore', 'mood', 'numeric')"
        ).collect()
    }
    assert rows["dscore"] == "d"
    assert rows["mood"] == "e"
    assert rows["numeric"] == "b"


def test_failed_create_leaves_no_phantom_domain_dependency(eng):
    eng.sql("CREATE DOMAIN dph AS INT CHECK (VALUE > 0)")
    with pytest.raises(Exception):
        # the unknown type refuses the CREATE only AFTER the domain
        # column has already been parsed
        eng.sql("CREATE TABLE bad (v dph, w no_such_type)")
    # the refused CREATE must not leave a dependency blocking the drop
    eng.sql("DROP DOMAIN dph")
    assert "dph" not in eng.catalog.types


def test_alter_domain_add_constraint_validates_existing(eng):
    eng.sql("CREATE DOMAIN vscore AS INT")
    eng.sql("CREATE TABLE a1 (v vscore)")
    eng.sql("CREATE TABLE a2 (v vscore)")
    eng.sql("INSERT INTO a1 VALUES (5), (50)")
    eng.sql("INSERT INTO a2 VALUES (7)")
    # 50 violates: the ALTER must refuse and leave NO instantiation on
    # ANY dependent (atomic across tables)
    with pytest.raises(Exception):
        eng.sql("ALTER DOMAIN vscore ADD CONSTRAINT small CHECK (VALUE < 10)")
    eng.sql("INSERT INTO a2 VALUES (90)")  # still accepted — no constraint
    eng.sql("DELETE FROM a1 WHERE v = 50")
    eng.sql("DELETE FROM a2 WHERE v = 90")
    eng.sql("ALTER DOMAIN vscore ADD CONSTRAINT small CHECK (VALUE < 10)")
    with pytest.raises(Exception):
        eng.sql("INSERT INTO a1 VALUES (99)")
    with pytest.raises(Exception):
        eng.sql("INSERT INTO a2 VALUES (99)")
    # new tables instantiate the altered definition too
    eng.sql("CREATE TABLE a3 (v vscore)")
    with pytest.raises(Exception):
        eng.sql("INSERT INTO a3 VALUES (99)")


def test_alter_domain_drop_constraint(eng):
    eng.sql("CREATE DOMAIN dd2 AS INT CONSTRAINT pos CHECK (VALUE > 0)")
    eng.sql("CREATE TABLE b1 (v dd2)")
    with pytest.raises(Exception):
        eng.sql("INSERT INTO b1 VALUES (-5)")
    eng.sql("ALTER DOMAIN dd2 DROP CONSTRAINT pos")
    eng.sql("INSERT INTO b1 VALUES (-5)")  # accepted now
    assert eng.sql("SELECT v FROM b1").collect()[0][0] == -5


def test_alter_domain_not_null_lifecycle(eng):
    eng.sql("CREATE DOMAIN dn AS INT")
    eng.sql("CREATE TABLE c1 (v dn)")
    eng.sql("INSERT INTO c1 VALUES (NULL)")
    # existing NULL blocks SET NOT NULL (PG validates dependents)
    with pytest.raises(Exception):
        eng.sql("ALTER DOMAIN dn SET NOT NULL")
    eng.sql("DELETE FROM c1 WHERE v IS NULL")
    eng.sql("ALTER DOMAIN dn SET NOT NULL")
    with pytest.raises(Exception):
        eng.sql("INSERT INTO c1 VALUES (NULL)")
    eng.sql("ALTER DOMAIN dn DROP NOT NULL")
    eng.sql("INSERT INTO c1 VALUES (NULL)")
    assert eng.sql("SELECT COUNT(*) FROM c1").collect()[0][0] == 1


def test_alter_domain_set_drop_default(eng):
    eng.sql("CREATE DOMAIN wd AS TEXT DEFAULT 'a'")
    eng.sql("CREATE TABLE d1 (v wd)")
    eng.sql("CREATE TABLE d2 (v wd DEFAULT 'mine')")  # column override
    eng.sql("ALTER DOMAIN wd SET DEFAULT 'b'")
    eng.sql("INSERT INTO d1 VALUES (DEFAULT)")
    eng.sql("INSERT INTO d2 VALUES (DEFAULT)")
    assert eng.sql("SELECT v FROM d1").collect()[0][0] == "b"
    assert eng.sql("SELECT v FROM d2").collect()[0][0] == "mine"
    eng.sql("ALTER DOMAIN wd DROP DEFAULT")
    eng.sql("INSERT INTO d1 VALUES (DEFAULT)")
    vals = sorted((r[0] is None, r[0]) for r in eng.sql("SELECT v FROM d1").collect())
    assert vals[-1][0] is True  # the second insert landed NULL


def test_alter_domain_idempotent_and_missing_constraint(eng):
    eng.sql("CREATE DOMAIN dq AS INT")
    eng.sql("CREATE TABLE q1 (v dq)")
    eng.sql("ALTER DOMAIN dq SET NOT NULL")
    eng.sql("ALTER DOMAIN dq SET NOT NULL")  # no-op, no duplicate checks
    names = [c["name"] for c in eng.catalog.table_constraints["q1"]]
    assert names.count("v_dq_not_null") == 1
    with pytest.raises(ValueError, match="does not exist"):
        eng.sql("ALTER DOMAIN dq DROP CONSTRAINT nope")
    eng.sql("ALTER DOMAIN dq DROP CONSTRAINT IF EXISTS nope")  # silent


def test_add_column_with_domain_type(eng):
    eng.sql("CREATE DOMAIN ps AS INT CHECK (VALUE > 0)")
    eng.sql("CREATE TABLE t9 (a INT)")
    eng.sql("INSERT INTO t9 VALUES (1)")
    eng.sql("ALTER TABLE t9 ADD COLUMN v ps")
    with pytest.raises(Exception):
        eng.sql("INSERT INTO t9 VALUES (2, -5)")
    eng.sql("INSERT INTO t9 VALUES (2, 7)")
    assert eng.catalog.domain_uses["t9"] == {"ps": ["v"]}
    with pytest.raises(ValueError, match="depend"):
        eng.sql("DROP DOMAIN ps")


def test_add_column_domain_not_null_refused_on_null_backfill(eng):
    eng.sql("CREATE DOMAIN req AS INT NOT NULL")
    eng.sql("CREATE TABLE t10 (a INT)")
    eng.sql("INSERT INTO t10 VALUES (1)")
    # PG: adding a NOT NULL column without default to a non-empty table
    # fails; the refused ADD must roll the column back out entirely
    with pytest.raises(Exception):
        eng.sql("ALTER TABLE t10 ADD COLUMN v req")
    assert eng.sql("SELECT * FROM t10").columns == ["a"]
    assert "t10" not in eng.catalog.domain_uses
    # with a default the backfill satisfies NOT NULL
    eng.sql("ALTER TABLE t10 ADD COLUMN w req DEFAULT 5")
    assert eng.sql("SELECT w FROM t10").collect()[0][0] == 5


def test_add_column_with_enum_type(eng):
    eng.sql("CREATE TYPE clr AS ENUM ('red', 'blue')")
    eng.sql("CREATE TABLE t11 (a INT)")
    eng.sql("ALTER TABLE t11 ADD COLUMN c clr")
    with pytest.raises(Exception):
        eng.sql("INSERT INTO t11 VALUES (1, 'green')")
    eng.sql("INSERT INTO t11 VALUES (1, 'red')")
    assert eng.sql("SELECT c FROM t11").collect()[0][0] == "red"


# -- ::domain expression casts (x33) ---------------------------------------

def test_domain_expr_cast_accepts_and_coerces(eng):
    eng.sql("CREATE DOMAIN posint AS INT CHECK (VALUE > 0)")
    assert eng.sql("SELECT 5::posint AS a").collect()[0][0] == 5
    assert eng.sql("SELECT ('4')::posint AS a").collect()[0][0] == 4
    assert eng.sql("SELECT (2 + 3)::posint AS a").collect()[0][0] == 5
    # NULL passes a bare CHECK (PG domain semantics)
    assert eng.sql("SELECT NULL::posint AS a").collect()[0][0] is None


def test_domain_expr_cast_raises_on_violation(eng):
    eng.sql("CREATE DOMAIN posint AS INT CHECK (VALUE > 0)")
    eng.sql("CREATE DOMAIN req AS TEXT NOT NULL")
    with pytest.raises(Exception, match="violates"):
        eng.sql("SELECT (-3)::posint AS a").collect()
    with pytest.raises(Exception, match="violates"):
        eng.sql("SELECT NULL::req AS a").collect()


def test_domain_expr_cast_in_insert_and_where(eng):
    eng.sql("CREATE DOMAIN posint AS INT CHECK (VALUE > 0)")
    eng.sql("CREATE TABLE t (v INT)")
    eng.sql("INSERT INTO t VALUES (9::posint), (3::posint)")
    assert sorted(
        r[0] for r in eng.sql("SELECT v FROM t").collect()
    ) == [3, 9]
    with pytest.raises(Exception, match="violates"):
        eng.sql("INSERT INTO t VALUES ((-1)::posint)")
    n = eng.sql("SELECT COUNT(*) FROM t WHERE v > 2::posint").collect()[0][0]
    assert n == 2


def test_domain_expr_cast_column_source(eng):
    eng.sql("CREATE DOMAIN posint AS INT CHECK (VALUE > 0)")
    eng.sql("CREATE TABLE src AS SELECT 4 AS k UNION ALL SELECT 8 AS k")
    assert sorted(
        r[0] for r in eng.sql("SELECT k::posint AS kk FROM src").collect()
    ) == [4, 8]


def test_domain_cast_chain(eng):
    eng.sql("CREATE DOMAIN posint AS INT CHECK (VALUE > 0)")
    # `::` is left-associative: the domain coerces `'4'::int`, not `int`
    assert eng.sql("SELECT '4'::int::posint AS a").collect()[0][0] == 4
    with pytest.raises(Exception, match="violates"):
        eng.sql("SELECT '-4'::int::posint AS a").collect()


def test_nondomain_cast_untouched(eng):
    # ordinary ::type casts keep Spark's native path
    eng.sql("CREATE DOMAIN posint AS INT CHECK (VALUE > 0)")
    assert eng.sql("SELECT '7'::int AS a").collect()[0][0] == 7
    assert eng.sql("SELECT 1::bigint AS a").collect()[0][0] == 1
