"""Small managed tables scan as one partition.

``ManagedTable`` reads a table whose data files total no more than
``spark.sql.files.openCostInBytes`` (4 MB by default) as ``coalesce(1)``,
so a GROUP BY, global aggregate or view over it plans no Exchange and runs
one Spark job, and a join of two such tables one job per side at most.
These tests pin those job counts, that a table above the bound keeps
Spark's split, that rows match DuckDB on both sides of the bound through
every write shape, and that filters and partition pruning still reach the
scan.
"""

from __future__ import annotations

import uuid

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from otterbrix_spark.engine import Engine


def _jobs(spark, fn):
    """(result of ``fn()``, number of Spark jobs it submitted)."""
    sc = spark.sparkContext
    group = f"small-scan-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _partitions(eng, table: str) -> int:
    return eng.catalog.tables[table].df().rdd.getNumPartitions()


@pytest.fixture()
def orders(spark, sf_dir, tmp_path):
    """An engine holding managed copies of ``orders`` (two files: the copy
    and one appended row) and ``customer``, and a view over ``bo``."""
    eng = Engine(spark, table_dir=str(tmp_path))
    eng.register_corpus(sf_dir)
    for sql in (
        "CREATE TABLE bo AS SELECT * FROM orders",
        "INSERT INTO bo SELECT * FROM orders LIMIT 1",
        "CREATE TABLE bc AS SELECT c_custkey, c_mktsegment, c_nationkey FROM customer",
        "CREATE VIEW bo_urgent AS SELECT o_orderkey, o_custkey, o_totalprice "
        "FROM bo WHERE o_orderpriority = '1-URGENT'",
    ):
        eng.execute_sql(sql)
    return eng


@pytest.mark.parametrize(
    "sql, ceiling",
    [
        ("SELECT o_orderstatus, count(*) AS n, max(o_totalprice) AS mx FROM bo "
         "WHERE o_custkey < 500 GROUP BY o_orderstatus", 1),
        ("SELECT count(*) AS n, sum(o_totalprice) AS s FROM bo", 1),
        ("SELECT count(*) AS n, max(o_totalprice) AS mx FROM bo_urgent "
         "WHERE o_custkey < 500", 1),
        ("SELECT c.c_mktsegment, count(*) AS n FROM bo JOIN bc c "
         "ON bo.o_custkey = c.c_custkey WHERE c.c_nationkey = 3 "
         "GROUP BY c.c_mktsegment", 2),
    ],
    ids=["group-by", "global-aggregate", "view", "join"],
)
def test_small_table_read_jobs(spark, orders, sql, ceiling):
    """Over tables below the bound the aggregate needs no Exchange, so no
    separate shuffle job: one job, plus one broadcast job for a join."""
    assert _partitions(orders, "bo") == 1 and _partitions(orders, "bc") == 1
    orders.execute_sql(sql).fetchall()  # warm: the scans are cached
    rows, n = _jobs(spark, lambda: orders.execute_sql(sql).fetchall())
    assert rows and 1 <= n <= ceiling


def test_partitioned_small_table_keeps_pruning(spark, orders):
    """Filters, partition pruning and column pruning push through the
    one-partition scan, and the aggregate over it has no Exchange."""
    orders.execute_sql(
        "CREATE TABLE bp (k bigint, prio string, price double) "
        "PARTITION BY LIST (prio)"
    )
    orders.execute_sql(
        "INSERT INTO bp SELECT o_orderkey, o_orderpriority, o_totalprice FROM bo"
    )
    assert _partitions(orders, "bp") == 1
    df = orders.sql(
        "SELECT count(*) AS n FROM bp WHERE prio = '1-URGENT' AND price > 1000"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "prio" in plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "price" in plan.split("PushedFilters: [")[1].split("]")[0]
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "price" in read_schema and "k:" not in read_schema
    assert "Exchange" not in plan
    assert df.collect()[0]["n"] == orders.execute_sql(
        "SELECT count(*) FROM bo WHERE o_orderpriority = '1-URGENT' "
        "AND o_totalprice > 1000"
    ).fetchall()[0][0]


# -- rows against DuckDB, below and above the bound ----------------------

# 64 hex characters of random bytes per row: incompressible enough that
# 80k rows write about 5 MB of parquet, above the 4 MB default bound
_ROWS = {"small": 2_000, "large": 80_000}


def _corpus(dir_, n: int) -> str:
    rng = np.random.default_rng(n)
    path = str(dir_ / "src.parquet")
    pq.write_table(
        pa.table({
            "k": np.arange(n, dtype=np.int64),
            "g": rng.integers(0, 50, n).astype(np.int32),
            "v": rng.integers(0, 1000, n),
            "h": [rng.bytes(32).hex() for _ in range(n)],
        }),
        path,
        row_group_size=10_000,
    )
    return path


_STATEMENTS = [
    # (engine statement, DuckDB replay)
    ("INSERT INTO x VALUES (-1, 1, 5, 'a'), (-2, 2, 6, 'b')", None),
    ("UPDATE x SET v = v + 1 WHERE k % 7 = 0", None),
    ("DELETE FROM x WHERE k % 11 = 0", None),
    ("UPDATE x SET v = x.v + s.w FROM s WHERE x.k = s.k", None),
    (
        "MERGE INTO x t USING s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = t.v - s.w "
        "WHEN NOT MATCHED THEN INSERT VALUES (s.k, 0, s.w, 'm')",
        (
            "UPDATE x SET v = x.v - s.w FROM s WHERE x.k = s.k",
            "INSERT INTO x SELECT s.k, 0, s.w, 'm' FROM s "
            "WHERE s.k NOT IN (SELECT k FROM x)",
        ),
    ),
    ("UPDATE x SET v = v * 2 WHERE k < 5 RETURNING k, v", None),
    ("BEGIN; INSERT INTO x VALUES (-3, 3, 7, 'c'); "
     "UPDATE x SET g = g + 1 WHERE k % 13 = 0; "
     "DELETE FROM x WHERE k = -1; COMMIT",
     ("INSERT INTO x VALUES (-3, 3, 7, 'c')",
      "UPDATE x SET g = g + 1 WHERE k % 13 = 0",
      "DELETE FROM x WHERE k = -1")),
]


@pytest.mark.parametrize("size", sorted(_ROWS))
def test_writes_match_duckdb_on_both_sides_of_the_bound(spark, tmp_path, size):
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    path = _corpus(corpus, _ROWS[size])
    eng = Engine(spark, table_dir=str(tmp_path / "tables"))
    spark.read.parquet(path).createOrReplaceTempView("src")
    con = duckdb.connect()
    for sql in (
        "CREATE TABLE s (k bigint, w bigint)",
        # keys 3 and 21 match rows of x, 999999 matches none
        "INSERT INTO s VALUES (3, 10), (21, 20), (999999, 30)",
    ):
        eng.execute_sql(sql)
        con.execute(sql)
    eng.execute_sql("CREATE TABLE x AS SELECT * FROM src")
    con.execute(f"CREATE TABLE x AS SELECT * FROM read_parquet('{path}')")
    one = size == "small"

    def check(sql):
        got = sorted(eng.execute_sql("SELECT k, g, v, h FROM x").fetchall())
        assert got == sorted(con.execute("SELECT k, g, v, h FROM x").fetchall()), sql
        assert (_partitions(eng, "x") == 1) == one, sql

    check("CREATE")
    for sql, duck in _STATEMENTS:
        got = eng.execute_sql(sql).fetchall()
        for q in duck or (sql,):
            want = con.execute(q).fetchall()
        if "RETURNING" in sql:
            assert sorted(map(tuple, got)) == sorted(want), sql
        check(sql)
    con.close()
