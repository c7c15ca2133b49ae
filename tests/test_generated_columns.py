"""PG stored generated columns (x34): GENERATED ALWAYS AS (expr) STORED
— recompute on every write path (INSERT positional/col-list/SELECT/
DEFAULT VALUES/ON CONFLICT, UPDATE incl. txn), explicit-write refusal,
CREATE-time refusals, ALTER ADD/DROP EXPRESSION, column/table rename
re-anchoring, reopen persistence. PG reference: tablecmds.c /
ExecComputeStoredGenerated."""

from __future__ import annotations

import tempfile

import pytest

from otterbrix_spark.engine import Engine


@pytest.fixture()
def eng(spark):
    return Engine(spark, table_dir=tempfile.mkdtemp(prefix="otx-gencol-"))


def _mk(eng):
    eng.sql(
        "CREATE TABLE items (a INT, b INT, "
        "total INT GENERATED ALWAYS AS (a + b) STORED)"
    )


def test_insert_positional_skips_generated(eng):
    _mk(eng)
    eng.sql("INSERT INTO items VALUES (1, 2), (3, 4)")
    rows = sorted(tuple(r) for r in eng.sql("SELECT * FROM items").collect())
    assert rows == [(1, 2, 3), (3, 4, 7)]


def test_insert_column_list_and_select_source(eng):
    _mk(eng)
    eng.sql("INSERT INTO items (a, b) VALUES (10, 20)")
    eng.sql("INSERT INTO items SELECT 7, 8")
    rows = sorted(tuple(r) for r in eng.sql("SELECT * FROM items").collect())
    assert rows == [(7, 8, 15), (10, 20, 30)]


def test_insert_explicit_value_refused_default_kw_ok(eng):
    _mk(eng)
    with pytest.raises(Exception, match="generated column"):
        eng.sql("INSERT INTO items (a, b, total) VALUES (1, 1, 99)")
    eng.sql("INSERT INTO items (a, b, total) VALUES (5, 5, DEFAULT)")
    assert eng.sql("SELECT total FROM items").collect()[0][0] == 10


def test_update_recomputes_from_new_values(eng):
    _mk(eng)
    eng.sql("INSERT INTO items VALUES (1, 2)")
    eng.sql("UPDATE items SET b = 100 WHERE a = 1")
    assert eng.sql("SELECT total FROM items").collect()[0][0] == 101
    with pytest.raises(Exception, match="generated column"):
        eng.sql("UPDATE items SET total = 5")
    # SET gen = DEFAULT is legal and a no-op after recompute (PG)
    eng.sql("UPDATE items SET total = DEFAULT WHERE a = 1")
    assert eng.sql("SELECT total FROM items").collect()[0][0] == 101


def test_txn_insert_update_rollback(eng):
    _mk(eng)
    eng.sql("INSERT INTO items VALUES (1, 2)")
    eng.sql("BEGIN")
    eng.sql("INSERT INTO items VALUES (7, 8)")
    eng.sql("UPDATE items SET b = 9 WHERE a = 1")
    got = sorted(tuple(r) for r in eng.sql("SELECT * FROM items").collect())
    assert got == [(1, 9, 10), (7, 8, 15)]
    eng.sql("ROLLBACK")
    got = sorted(tuple(r) for r in eng.sql("SELECT * FROM items").collect())
    assert got == [(1, 2, 3)]


def test_on_conflict_insert_and_update_recompute(eng):
    eng.sql(
        "CREATE TABLE kv (k INT PRIMARY KEY, v INT, "
        "dbl INT GENERATED ALWAYS AS (v * 2) STORED)"
    )
    eng.sql("INSERT INTO kv VALUES (1, 10)")
    eng.sql(
        "INSERT INTO kv (k, v) VALUES (1, 30), (2, 5) "
        "ON CONFLICT (k) DO UPDATE SET v = EXCLUDED.v"
    )
    rows = sorted(tuple(r) for r in eng.sql("SELECT * FROM kv").collect())
    assert rows == [(1, 30, 60), (2, 5, 10)]
    with pytest.raises(Exception, match="generated column"):
        eng.sql(
            "INSERT INTO kv (k, v) VALUES (1, 1) "
            "ON CONFLICT (k) DO UPDATE SET dbl = 7"
        )


def test_default_values_row_computes(eng):
    eng.sql(
        "CREATE TABLE d (a INT DEFAULT 4, "
        "twice INT GENERATED ALWAYS AS (a * 2) STORED)"
    )
    eng.sql("INSERT INTO d DEFAULT VALUES")
    assert [tuple(r) for r in eng.sql("SELECT * FROM d").collect()] == [(4, 8)]


def test_create_refusals(eng):
    with pytest.raises(Exception, match="default and generation"):
        eng.sql(
            "CREATE TABLE bad (a INT, "
            "g INT GENERATED ALWAYS AS (a) STORED DEFAULT 5)"
        )
    with pytest.raises(Exception, match="generated column"):
        eng.sql(
            "CREATE TABLE bad2 (a INT, "
            "g1 INT GENERATED ALWAYS AS (a + 1) STORED, "
            "g2 INT GENERATED ALWAYS AS (g1 + 1) STORED)"
        )
    # unknown column in the expression: CREATE is atomic, nothing leaks
    with pytest.raises(Exception):
        eng.sql(
            "CREATE TABLE bad3 (a INT, "
            "g INT GENERATED ALWAYS AS (nope + 1) STORED)"
        )
    eng.sql("CREATE TABLE bad3 (x INT)")  # name reusable -> no leak


def test_alter_add_generated_backfills(eng):
    _mk(eng)
    eng.sql("INSERT INTO items VALUES (1, 2), (3, 4)")
    eng.sql(
        "ALTER TABLE items ADD COLUMN asq INT "
        "GENERATED ALWAYS AS (a * a) STORED"
    )
    rows = sorted(
        tuple(r) for r in eng.sql("SELECT a, asq FROM items").collect()
    )
    assert rows == [(1, 1), (3, 9)]
    eng.sql("INSERT INTO items VALUES (5, 6)")
    assert eng.sql(
        "SELECT asq FROM items WHERE a = 5"
    ).collect()[0][0] == 25


def test_drop_expression_makes_plain_column(eng):
    _mk(eng)
    eng.sql("INSERT INTO items VALUES (1, 2)")
    eng.sql("ALTER TABLE items ALTER COLUMN total DROP EXPRESSION")
    eng.sql("UPDATE items SET total = 99 WHERE a = 1")
    assert eng.sql("SELECT total FROM items").collect()[0][0] == 99
    with pytest.raises(Exception, match="not a stored generated"):
        eng.sql("ALTER TABLE items ALTER COLUMN total DROP EXPRESSION")


def test_drop_referenced_column_refused(eng):
    _mk(eng)
    with pytest.raises(Exception, match="depends on it"):
        eng.sql("ALTER TABLE items DROP COLUMN a")
    # dropping the generated column itself is fine
    eng.sql("ALTER TABLE items DROP COLUMN total")
    eng.sql("INSERT INTO items VALUES (1, 2)")
    assert [tuple(r) for r in eng.sql("SELECT * FROM items").collect()] == [(1, 2)]


def test_rename_column_reanchors_expression(eng):
    _mk(eng)
    eng.sql("ALTER TABLE items RENAME COLUMN a TO alpha")
    eng.sql("INSERT INTO items VALUES (1, 2)")
    assert eng.sql("SELECT total FROM items").collect()[0][0] == 3
    eng.sql("ALTER TABLE items RENAME COLUMN total TO t2")
    eng.sql("INSERT INTO items VALUES (10, 20)")
    assert eng.sql(
        "SELECT t2 FROM items WHERE alpha = 10"
    ).collect()[0][0] == 30


def test_rename_table_moves_generated(eng):
    _mk(eng)
    eng.sql("ALTER TABLE items RENAME TO stuff")
    eng.sql("INSERT INTO stuff VALUES (2, 3)")
    assert eng.sql("SELECT total FROM stuff").collect()[0][0] == 5


def test_reopen_persists_generated(eng, spark):
    _mk(eng)
    eng.sql("INSERT INTO items VALUES (1, 2)")
    eng2 = Engine(spark, table_dir=eng.catalog.base_dir)
    eng2.sql("INSERT INTO items VALUES (10, 20)")
    rows = sorted(tuple(r) for r in eng2.sql("SELECT * FROM items").collect())
    assert rows == [(1, 2, 3), (10, 20, 30)]
    with pytest.raises(Exception, match="generated column"):
        eng2.sql("INSERT INTO items (a, b, total) VALUES (1, 1, 9)")


def test_information_schema_exposes_generated(eng):
    _mk(eng)
    rows = eng.sql(
        "SELECT column_name, is_generated, generation_expression "
        "FROM information_schema.columns WHERE table_name = 'items' "
        "ORDER BY ordinal_position"
    ).collect()
    got = [(r[0], r[1]) for r in rows]
    assert got == [("a", "NEVER"), ("b", "NEVER"), ("total", "ALWAYS")]
    assert rows[2][2] == "a + b"


def test_update_from_recomputes_and_refuses(eng, spark):
    _mk(eng)
    eng.sql("INSERT INTO items VALUES (1, 2), (3, 4)")
    spark.createDataFrame([(1, 50)], "k int, nb int").createOrReplaceTempView(
        "src_gen"
    )
    eng.sql("UPDATE items SET b = src_gen.nb FROM src_gen WHERE a = src_gen.k")
    rows = sorted(tuple(r) for r in eng.sql("SELECT * FROM items").collect())
    assert rows == [(1, 50, 51), (3, 4, 7)]
    with pytest.raises(Exception, match="generated column"):
        eng.sql(
            "UPDATE items SET total = src_gen.nb FROM src_gen "
            "WHERE a = src_gen.k"
        )


def test_merge_recomputes(eng, spark):
    eng.sql(
        "CREATE TABLE tgt (k INT, v INT, "
        "dbl INT GENERATED ALWAYS AS (v * 2) STORED)"
    )
    eng.sql("INSERT INTO tgt VALUES (1, 10)")
    spark.createDataFrame(
        [(1, 99), (2, 5)], "k int, v int"
    ).createOrReplaceTempView("msrc_gen")
    eng.sql(
        "MERGE INTO tgt USING msrc_gen AS s ON tgt.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)"
    )
    rows = sorted(tuple(r) for r in eng.sql("SELECT * FROM tgt").collect())
    assert rows == [(1, 99, 198), (2, 5, 10)]


def test_copy_from_csv_skips_generated(eng, tmp_path):
    _mk(eng)
    f = tmp_path / "items.csv"
    f.write_text("a,b\n1,2\n3,4\n")
    eng.sql(f"COPY items FROM '{f}' (FORMAT csv, HEADER true)")
    rows = sorted(tuple(r) for r in eng.sql("SELECT * FROM items").collect())
    assert rows == [(1, 2, 3), (3, 4, 7)]


# --- self-review r13 regressions ---------------------------------------------


def test_self_referential_expression_refused(eng):
    with pytest.raises(Exception, match="generated column"):
        eng.sql(
            "CREATE TABLE selfref (a INT, "
            "b INT GENERATED ALWAYS AS (b + 1) STORED)"
        )


def test_on_conflict_set_default_on_generated_ok(eng):
    eng.sql(
        "CREATE TABLE kvd (k INT PRIMARY KEY, v INT, "
        "dbl INT GENERATED ALWAYS AS (v * 2) STORED)"
    )
    eng.sql("INSERT INTO kvd VALUES (1, 10)")
    eng.sql(
        "INSERT INTO kvd (k, v) VALUES (1, 30) "
        "ON CONFLICT (k) DO UPDATE SET v = EXCLUDED.v, dbl = DEFAULT"
    )
    assert [tuple(r) for r in eng.sql("SELECT * FROM kvd").collect()] == [
        (1, 30, 60)
    ]


def test_update_from_set_default_on_generated_ok(eng, spark):
    _mk(eng)
    eng.sql("INSERT INTO items VALUES (1, 2)")
    spark.createDataFrame([(1, 9)], "k int, nb int").createOrReplaceTempView(
        "src_gen_dflt"
    )
    eng.sql(
        "UPDATE items SET b = src_gen_dflt.nb, total = DEFAULT "
        "FROM src_gen_dflt WHERE a = src_gen_dflt.k"
    )
    assert [tuple(r) for r in eng.sql("SELECT * FROM items").collect()] == [
        (1, 9, 10)
    ]


def test_copy_roundtrip_generated_not_last(eng, tmp_path):
    # generated column in the MIDDLE: TO must exclude it so FROM's
    # positional parse stays aligned
    eng.sql(
        "CREATE TABLE mid (a INT, "
        "tot INT GENERATED ALWAYS AS (a + b) STORED, b INT)"
    )
    eng.sql("INSERT INTO mid (a, b) VALUES (1, 2), (3, 4)")
    out = tmp_path / "mid_out"
    eng.sql(f"COPY mid TO '{out}' (FORMAT csv, HEADER true)")
    eng.sql("DELETE FROM mid")
    eng.sql(f"COPY mid FROM '{out}' (FORMAT csv, HEADER true)")
    rows = sorted(tuple(r) for r in eng.sql("SELECT * FROM mid").collect())
    assert rows == [(1, 3, 2), (3, 7, 4)]


def test_drop_column_preserves_longer_prefix_sibling(eng):
    # dropping column "a" must not clobber column "a_b"'s constraints
    eng.sql("CREATE DOMAIN posd AS INT CHECK (VALUE > 0)")
    eng.sql("CREATE TABLE pfx (a INT, a_b posd)")
    eng.sql("ALTER TABLE pfx DROP COLUMN a")
    with pytest.raises(Exception):
        eng.sql("INSERT INTO pfx VALUES (-5)")
    eng.sql("INSERT INTO pfx VALUES (5)")


def test_column_ddl_refused_inside_txn(eng):
    _mk(eng)
    eng.sql("BEGIN")
    for stmt in (
        "ALTER TABLE items ADD COLUMN z INT",
        "ALTER TABLE items DROP COLUMN b",
        "ALTER TABLE items RENAME COLUMN b TO bb",
        "ALTER TABLE items ALTER COLUMN b TYPE BIGINT",
    ):
        with pytest.raises(Exception, match="transaction"):
            eng.sql(stmt)
    eng.sql("ROLLBACK")
    # outside the txn the same statement works
    eng.sql("ALTER TABLE items ADD COLUMN z INT")


def test_like_including_generated(eng):
    _mk(eng)
    eng.sql("CREATE TABLE plain (LIKE items)")
    # PG default: the column copies as an ordinary base column
    eng.sql("INSERT INTO plain VALUES (1, 2, 99)")
    assert eng.sql("SELECT total FROM plain").collect()[0][0] == 99
    eng.sql("CREATE TABLE gen2 (LIKE items INCLUDING GENERATED)")
    eng.sql("INSERT INTO gen2 VALUES (1, 2)")
    assert eng.sql("SELECT total FROM gen2").collect()[0][0] == 3
    eng.sql("CREATE TABLE gen3 (LIKE items INCLUDING ALL)")
    eng.sql("INSERT INTO gen3 VALUES (4, 5)")
    assert eng.sql("SELECT total FROM gen3").collect()[0][0] == 9


def test_temp_table_with_generated(eng, spark):
    eng.sql(
        "CREATE TEMP TABLE tg (a INT, "
        "d INT GENERATED ALWAYS AS (a * 3) STORED)"
    )
    eng.sql("INSERT INTO tg VALUES (2)")
    assert eng.sql("SELECT d FROM tg").collect()[0][0] == 6
    # a REOPENED engine must not rediscover the temp table or its
    # generated metadata
    eng2 = Engine(spark, table_dir=eng.catalog.base_dir)
    assert "tg" not in eng2.catalog.generated_cols


def test_generated_invariant_random_dml(eng):
    """Property-style invariant: after ANY sequence of INSERT/UPDATE/
    upsert, every stored generated value equals its expression over the
    row — checked by recomputing in SQL (deterministic seed keeps the
    run reproducible and bounded)."""
    import random

    rng = random.Random(1913)
    eng.sql(
        "CREATE TABLE inv (k INT PRIMARY KEY, x INT, y INT, "
        "s INT GENERATED ALWAYS AS (x + 2 * y) STORED)"
    )
    for step in range(25):
        op = rng.randrange(3)
        k, x, y = rng.randrange(8), rng.randrange(100), rng.randrange(100)
        if op == 0:
            eng.sql(
                f"INSERT INTO inv (k, x, y) VALUES ({k}, {x}, {y}) "
                f"ON CONFLICT (k) DO UPDATE SET x = EXCLUDED.x, "
                f"y = EXCLUDED.y"
            )
        elif op == 1:
            eng.sql(f"UPDATE inv SET x = {x} WHERE k = {k}")
        else:
            eng.sql(f"UPDATE inv SET y = {y} WHERE k % 2 = {k % 2}")
        bad = eng.sql(
            "SELECT COUNT(*) FROM inv WHERE s IS DISTINCT FROM x + 2 * y"
        ).collect()[0][0]
        assert bad == 0, f"invariant broken at step {step}"
