"""DML-expression workload entries — the UPDATE/DELETE surface expressed as
oracle-checkable SELECTs.

The stateful write path is tested in tests/test_dml.py (ManagedTable); these
entries gate the *expression semantics* of the reference's update machinery:
SET expression trees (set/add/sub/mult/div/mod/abs/bitwise —
`components/expressions/update_expression.hpp:17-39`) and RETURNING
projections, as pure computations both engines can replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from otterbrix_spark.sources.registry import load_table
from otterbrix_spark.workload import query

# --- q38: UPDATE ... SET <expr tree> ... RETURNING, as a projection ---------
# UPDATE customer SET acctbal = acctbal * 1.05 + 10 WHERE segment='BUILDING'
# RETURNING key, old, new — the returned frame is what the reference's
# operator_update emits.

_Q38_ORACLE = """
SELECT c_custkey,
       c_acctbal AS old_bal,
       c_acctbal * CAST(1.05 AS DOUBLE) + 10 AS new_bal,
       c_custkey % 16 AS shard,
       XOR(c_custkey, 255) AS masked
FROM customer
WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 0
"""


@query("q38_update_returning", _Q38_ORACLE, doc="UPDATE SET expression tree + RETURNING")
def q38(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    matched = cust.filter((F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 0))
    return matched.select(
        "c_custkey",
        F.col("c_acctbal").alias("old_bal"),
        (F.col("c_acctbal") * F.lit(1.05) + 10).alias("new_bal"),
        (F.col("c_custkey") % 16).alias("shard"),
        F.col("c_custkey").bitwiseXOR(F.lit(255)).alias("masked"),
    )


# --- q39: DELETE ... RETURNING, as the doomed-row set -----------------------

_Q39_ORACLE = """
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders
WHERE o_orderstatus = 'P' AND o_totalprice < 50000
"""


@query("q39_delete_returning", _Q39_ORACLE, doc="DELETE WHERE ... RETURNING row set")
def q39(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(
        (F.col("o_orderstatus") == "P") & (F.col("o_totalprice") < 50000)
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


# --- q40: INSERT FROM SELECT shape (post-insert state as a query) -----------
# INSERT INTO target SELECT ... — the resulting table state is the union of
# base and inserted rows; gated here as UNION ALL + count.

_Q40_ORACLE = """
SELECT src, COUNT(*) AS n FROM (
  SELECT 'base' AS src FROM supplier
  UNION ALL
  SELECT 'inserted' AS src FROM supplier WHERE s_acctbal > 9000
) GROUP BY src
"""


@query("q40_insert_from_select", _Q40_ORACLE, doc="INSERT FROM SELECT resulting state")
def q40(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load_table(spark, sf_dir, "supplier")
    base = supp.select(F.lit("base").alias("src"))
    inserted = supp.filter(F.col("s_acctbal") > 9000).select(F.lit("inserted").alias("src"))
    return base.unionAll(inserted).groupBy("src").agg(F.count(F.lit(1)).alias("n"))


# --- x01: constraint DDL through SQL (CHECK + FK ON DELETE CASCADE) ---------
# ALTER TABLE ... ADD CONSTRAINT CHECK / FOREIGN KEY ... ON DELETE CASCADE
# (reference test_correctness_bugs.cpp:430,502; test_large_aggregate_dml.cpp:
# 228). The gate runs the full stateful flow: a CHECK-violating INSERT must
# abort leaving state untouched (a leak changes the group counts and fails
# the hash), then a parent DELETE cascades into the child. The oracle states
# the expected end state declaratively over the base tables.

_X01_ORACLE = """
SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers
FROM customer
WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
GROUP BY c_nationkey
"""


@query(
    "x01_fk_cascade_dml", _X01_ORACLE,
    doc="ALTER TABLE ADD CONSTRAINT CHECK / FK ON DELETE CASCADE via SQL",
)
def x01(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine
    from otterbrix_spark.operators.dml import ConstraintViolation

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    eng.sql("DROP TABLE IF EXISTS x01_nat")
    eng.sql("DROP TABLE IF EXISTS x01_cust")
    eng.sql("CREATE TABLE x01_nat AS SELECT n_nationkey, n_regionkey FROM nation")
    eng.sql("CREATE TABLE x01_cust AS SELECT c_custkey, c_nationkey FROM customer")
    eng.sql(
        "ALTER TABLE x01_cust ADD CONSTRAINT fk_nat FOREIGN KEY (c_nationkey) "
        "REFERENCES x01_nat (n_nationkey) ON DELETE CASCADE"
    )
    eng.sql("ALTER TABLE x01_cust ADD CONSTRAINT pos CHECK (c_custkey >= 0)")
    try:
        eng.sql("INSERT INTO x01_cust VALUES (-1, 0)")  # must abort, no linger
    except ConstraintViolation:
        pass
    eng.sql("DELETE FROM x01_nat WHERE n_regionkey = 2")
    return eng.sql(
        "SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers "
        "FROM x01_cust GROUP BY c_nationkey"
    )


# --- y01: CREATE TYPE enum column through SQL -------------------------------
# Enum maps to string + generated label CHECK (reference
# transformer.cpp:75-80 CREATE TYPE; test_correctness_bugs.cpp:337-392 enum
# scan predicates + invalid-label rejection). A non-label INSERT must abort
# without lingering — a leak would shift the group counts and fail the hash.

_Y01_ORACLE = """
SELECT o_orderstatus AS status, CAST(COUNT(*) AS BIGINT) AS n
FROM orders GROUP BY o_orderstatus
"""


@query(
    "y01_enum_type_dml", _Y01_ORACLE,
    doc="CREATE TYPE AS ENUM column: label CHECK + scan predicate via SQL",
)
def y01(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine
    from otterbrix_spark.operators.dml import ConstraintViolation

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    eng.sql("DROP TABLE IF EXISTS y01_ord")
    eng.sql("CREATE TYPE status_t AS ENUM('O', 'F', 'P')")
    eng.sql("CREATE TABLE y01_ord (okey bigint, status status_t)")
    eng.sql("INSERT INTO y01_ord SELECT o_orderkey, o_orderstatus FROM orders")
    try:
        eng.sql("INSERT INTO y01_ord VALUES (-1, 'X')")  # non-label: must abort
    except ConstraintViolation:
        pass
    return eng.sql(
        "SELECT status, COUNT(*) AS n FROM y01_ord GROUP BY status"
    )


# --- v01: views through the SQL router --------------------------------------
# CREATE VIEW + CREATE MATERIALIZED VIEW + REFRESH + query-through-view, all
# via the SQL statement surface (reference transformer.cpp view statements;
# executor.cpp:600-665 matview create/refresh). The result read back through
# the materialized view must equal the plain-SQL equivalent on base tables.

_V01_ORACLE = """
SELECT c_mktsegment AS segment, COUNT(*) AS n
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_totalprice > 100000
GROUP BY c_mktsegment
"""


@query("v01_sql_view", _V01_ORACLE, doc="CREATE VIEW / MATERIALIZED VIEW / REFRESH via SQL")
def v01(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    eng.sql(
        "CREATE OR REPLACE VIEW v01_big_orders AS "
        "SELECT o_custkey, o_totalprice FROM orders WHERE o_totalprice > 100000"
    )
    eng.sql(
        "CREATE MATERIALIZED VIEW v01_seg_counts AS "
        "SELECT c_mktsegment AS segment, COUNT(*) AS n "
        "FROM v01_big_orders JOIN customer ON o_custkey = c_custkey "
        "GROUP BY c_mktsegment"
    )
    eng.sql("REFRESH MATERIALIZED VIEW v01_seg_counts")
    return eng.sql("SELECT segment, n FROM v01_seg_counts")


# --- y02: inline composite columns + (composite).* expansion ----------------
# Reference composite regression (`integration/cpp/test/
# test_correctness_bugs.cpp:211-216`): a struct-typed column filled via
# ROW(...) and expanded with PG's `(s.p).*` syntax. Exercises three seams
# at once: the DDL parser's angle-bracket-aware column split
# (`struct<a:int, b:int>` must not split at its inner comma), ROW ->
# struct lowering, and the dialect's composite-star rewrite (both paths).
# Data derives from the region table so the oracle is corpus-grounded.

_Y02_ORACLE = """
SELECT r_regionkey AS id,
       CAST(r_regionkey * 10 AS INT) AS a,
       CAST(r_regionkey * 10 + LENGTH(r_name) AS INT) AS b
FROM region ORDER BY id
"""


@query(
    "y02_composite_star", _Y02_ORACLE,
    doc="inline struct column DDL + ROW() insert + (composite).* "
        "expansion through the dialect",
)
def y02(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    eng.sql("DROP TABLE IF EXISTS y02_comp")
    eng.sql("CREATE TABLE y02_comp (id bigint, p struct<a:int, b:int>)")
    eng.sql(
        "INSERT INTO y02_comp SELECT r_regionkey, "
        "ROW(CAST(r_regionkey * 10 AS INT), "
        "CAST(r_regionkey * 10 + LENGTH(r_name) AS INT)) FROM region"
    )
    return eng.sql("SELECT s.id, (s.p).* FROM y02_comp s ORDER BY s.id")


# --- y03: dynamic-schema table (schema-on-write + widening + variant) -------
# §1.1's signature feature gets its driver gate: a DynamicTable ingests
# three batches with DIFFERENT schemas (reference `relkind='g'` computing
# tables, catalog `pg_computed_column` versioning —
# `components/catalog/system_table_schemas.cpp:17-18,234`; WAL
# `PHYSICAL_ADD_COLUMN` `services/wal/record.hpp:16-21`):
#   b1: (id, amount DOUBLE)               — o_orderkey % 3 = 0
#   b2: (id, amount BIGINT, status)       — % 3 = 1; numeric widening
#   b3: (id, amount VARCHAR(non-numeric), status) — % 3 = 2; widens the
#       column to string, the `::?` variant case
# The union read surfaces absent columns as NULL; variant_select
# recovers the typed view (values genuinely castable to DOUBLE — b1's
# roundtripped doubles and b2's integers; b3's priority strings drop).
# The oracle replays the union + try_cast semantics straight off orders.
# Scale: batches are parquet appends, the union read is a per-batch
# projection (no shuffle), the summary one partial+final agg.

_Y03_ORACLE = """
WITH b1 AS (
  SELECT o_orderkey AS id, o_totalprice AS amt_d,
         CAST(NULL AS VARCHAR) AS status
  FROM orders WHERE o_orderkey % 3 = 0),
b2 AS (
  SELECT o_orderkey AS id, CAST(o_orderkey AS DOUBLE) AS amt_d,
         o_orderstatus AS status
  FROM orders WHERE o_orderkey % 3 = 1),
b3 AS (
  SELECT o_orderkey AS id, CAST(NULL AS DOUBLE) AS amt_d,
         o_orderstatus AS status
  FROM orders WHERE o_orderkey % 3 = 2),
u AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2 UNION ALL SELECT * FROM b3)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN status IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_status_null,
       CAST(COUNT(amt_d) AS BIGINT) AS n_amount_double,
       CAST(SUM(CAST(FLOOR(amt_d * 100.0) AS BIGINT)) AS DOUBLE) / 100.0
         AS amount_sum
FROM u
"""


@query(
    "y03_dynamic_schema", _Y03_ORACLE,
    doc="dynamic-schema table: three batches with different schemas "
        "(new column, numeric widening, string-conflict variant), union "
        "read with NULL backfill + variant_select typed recovery",
)
def y03(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from otterbrix_spark.sources.dynamic import DynamicTable
    from otterbrix_spark.workload import scratch_dir

    orders = load_table(spark, sf_dir, "orders")
    dt = DynamicTable(spark, os.path.join(scratch_dir("y03_dyn_"), "t"))
    k = F.col("o_orderkey")
    dt.insert(
        orders.filter(k % 3 == 0).select(
            k.alias("id"), F.col("o_totalprice").alias("amount")
        )
    )
    dt.insert(
        orders.filter(k % 3 == 1).select(
            k.alias("id"),
            k.cast("long").alias("amount"),
            F.col("o_orderstatus").alias("status"),
        )
    )
    dt.insert(
        orders.filter(k % 3 == 2).select(
            k.alias("id"),
            F.col("o_orderpriority").alias("amount"),
            F.col("o_orderstatus").alias("status"),
        )
    )
    full = dt.df().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("status").isNull(), 1).otherwise(0)
        ).cast("long").alias("n_status_null"),
    )
    typed = dt.variant_select("amount", "double").agg(
        F.count(F.lit(1)).alias("n_amount_double"),
        (
            F.sum(F.floor(F.col("amount") * 100.0).cast("long"))
            .cast("double") / 100.0
        ).alias("amount_sum"),
    )
    return full.crossJoin(typed)


# --- x02: INSERT ... ON CONFLICT upsert (PG arbiter semantics) --------------
# The PG upsert statement routed through the engine: seed half the keys,
# run a DO UPDATE batch that both accumulates into conflicting rows and
# inserts fresh ones, then a DO NOTHING re-delivery that must skip every
# conflict. Key bands are modulo-based so the gate exercises all four
# outcomes (kept / accumulated / inserted / zero-inserted) at every SF.
# The merge itself is two hash joins + a union (catalog._insert_on_conflict)
# — the shuffle-merge shape an upsert-capable lakehouse write runs at scale.

_X02_ORACLE = """
SELECT c_custkey AS k,
       CAST(CASE c_custkey % 4
            WHEN 0 THEN FLOOR(c_acctbal * 100.0)
            WHEN 1 THEN 2 * FLOOR(c_acctbal * 100.0)
            WHEN 2 THEN FLOOR(c_acctbal * 100.0)
            ELSE 0 END AS BIGINT) AS bal
FROM customer
"""


@query(
    "x02_upsert_on_conflict", _X02_ORACLE,
    doc="INSERT ... ON CONFLICT (k) DO UPDATE SET (accumulate via "
        "EXCLUDED) and DO NOTHING re-delivery, PG arbiter semantics",
)
def x02(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    eng.sql("DROP TABLE IF EXISTS x02_acct")
    eng.sql("CREATE TABLE x02_acct (k BIGINT PRIMARY KEY, bal BIGINT)")
    eng.sql(
        "INSERT INTO x02_acct SELECT c_custkey, "
        "CAST(FLOOR(c_acctbal * 100.0) AS BIGINT) FROM customer "
        "WHERE c_custkey % 4 IN (0, 1)"
    )
    eng.sql(
        "INSERT INTO x02_acct SELECT c_custkey, "
        "CAST(FLOOR(c_acctbal * 100.0) AS BIGINT) FROM customer "
        "WHERE c_custkey % 4 IN (1, 2) "
        "ON CONFLICT (k) DO UPDATE SET bal = x02_acct.bal + EXCLUDED.bal"
    )
    eng.sql(
        "INSERT INTO x02_acct SELECT c_custkey, CAST(0 AS BIGINT) "
        "FROM customer WHERE c_custkey % 4 IN (2, 3) "
        "ON CONFLICT (k) DO NOTHING"
    )
    return eng.sql("SELECT k, bal FROM x02_acct")


# --- q84: UPDATE ... FROM (PG join-update) ----------------------------------
# The join-update statement through the engine: balances adjusted from a
# second table joined on the key (catalog._update_from — one predicate
# join + anti-join + union, the MERGE-matched shuffle shape; multi-match
# targets are REFUSED rather than PG's arbitrary pick). Modulo key band
# so matched and untouched rows both exist at every SF.

_Q84_ORACLE = """
SELECT c_custkey,
       CAST(FLOOR(c_acctbal * 100.0)
            + CASE WHEN c_custkey % 3 = 0 THEN c_nationkey * 10 ELSE 0 END
            AS BIGINT) AS cents
FROM customer
"""


@query(
    "q84_update_from", _Q84_ORACLE,
    doc="UPDATE ... FROM join-update via SQL: adjustment table joined on "
        "the key, deterministic multi-match refusal",
)
def q84(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    eng.sql("DROP TABLE IF EXISTS q84_bal")
    eng.sql("DROP TABLE IF EXISTS q84_adj")
    eng.sql(
        "CREATE TABLE q84_bal AS SELECT c_custkey, "
        "CAST(FLOOR(c_acctbal * 100.0) AS BIGINT) AS cents FROM customer"
    )
    eng.sql(
        "CREATE TABLE q84_adj AS SELECT c_custkey AS k, "
        "CAST(c_nationkey * 10 AS BIGINT) AS delta "
        "FROM customer WHERE c_custkey % 3 = 0"
    )
    eng.sql(
        "UPDATE q84_bal SET cents = q84_bal.cents + q84_adj.delta "
        "FROM q84_adj WHERE q84_bal.c_custkey = q84_adj.k"
    )
    return eng.sql("SELECT c_custkey, cents FROM q84_bal")


# --- x03: MERGE INTO (PG 15 statement surface) ------------------------------
# The full three-clause merge through the engine (catalog._merge_into —
# one candidate join + two anti-joins + a column-level CASE cascade for
# first-match-wins clause selection, the Delta/Iceberg MERGE shuffle
# shape; reference upsert family: components/logical_plan/node_insert.cpp
# + node_update.cpp route the same matched/not-matched split). Key bands
# by c_custkey % 4: 0 -> target-only (untouched), 1 -> matched (DELETE
# when negative balance, else UPDATE accumulate), 2 -> source-only
# (INSERT), 3 -> in neither. The oracle replays the final table state in
# closed form over customer.

_X03_ORACLE = """
WITH c AS (
  SELECT c_custkey AS k,
         CAST(FLOOR(c_acctbal * 100.0) AS BIGINT) AS cents,
         CAST(c_nationkey * 100 + 7 AS BIGINT) AS delta
  FROM customer)
SELECT k,
       CASE WHEN k % 4 = 0 THEN cents
            WHEN k % 4 = 1 THEN cents + delta
            ELSE delta END AS bal
FROM c
WHERE k % 4 IN (0, 1, 2)
  AND NOT (k % 4 = 1 AND cents < 0)
"""


@query(
    "x03_merge_statement", _X03_ORACLE,
    doc="PG 15 MERGE INTO: WHEN MATCHED AND .. DELETE / WHEN MATCHED "
        "UPDATE / WHEN NOT MATCHED INSERT, first-match-wins clause order, "
        "multi-match refusal",
)
def x03(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    eng.sql("DROP TABLE IF EXISTS x03_acct")
    eng.sql("DROP TABLE IF EXISTS x03_src")
    eng.sql("CREATE TABLE x03_acct (k BIGINT PRIMARY KEY, bal BIGINT)")
    eng.sql(
        "INSERT INTO x03_acct SELECT c_custkey, "
        "CAST(FLOOR(c_acctbal * 100.0) AS BIGINT) FROM customer "
        "WHERE c_custkey % 4 IN (0, 1)"
    )
    eng.sql(
        "CREATE TABLE x03_src AS SELECT c_custkey AS k, "
        "CAST(c_nationkey * 100 + 7 AS BIGINT) AS delta "
        "FROM customer WHERE c_custkey % 4 IN (1, 2)"
    )
    eng.sql(
        "MERGE INTO x03_acct USING x03_src ON x03_acct.k = x03_src.k "
        "WHEN MATCHED AND x03_acct.bal < 0 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET bal = x03_acct.bal + x03_src.delta "
        "WHEN NOT MATCHED THEN INSERT (k, bal) VALUES (x03_src.k, x03_src.delta)"
    )
    return eng.sql("SELECT k, bal FROM x03_acct")


# --- x04: column DEFAULT expressions -----------------------------------------
# PG pg_attrdef surface: DEFAULT clauses in typed CREATE TABLE, applied
# whenever an INSERT omits the column — via an explicit column list or a
# short VALUES row list (PG fills the trailing columns). Defaults
# compose with the other trailing column clauses in either order
# (`DEFAULT 5 NOT NULL` / `NOT NULL DEFAULT 5`). Reference DDL family:
# components/sql/transformer (column definitions), SURVEY §2.10.

_X04_ORACLE = """
SELECT c_custkey AS k,
       'new' AS status,
       CAST(CASE WHEN c_custkey % 3 = 0 THEN 100
                 ELSE c_nationkey END AS BIGINT) AS score,
       CAST(-5 AS BIGINT) AS neg
FROM customer WHERE c_custkey % 3 IN (0, 1)
UNION ALL
SELECT -1, 'manual', 100, -5
UNION ALL
SELECT -2, 'new', 7, -5
"""


@query(
    "x04_column_defaults", _X04_ORACLE,
    doc="CREATE TABLE column DEFAULTs: applied on omitted columns "
        "(explicit column list + PG short-VALUES fill), composing with "
        "NOT NULL in either clause order",
)
def x04(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    eng.sql("DROP TABLE IF EXISTS x04_t")
    eng.sql(
        "CREATE TABLE x04_t (k BIGINT PRIMARY KEY, "
        "status STRING DEFAULT 'new', "
        "score BIGINT DEFAULT 100 NOT NULL, "
        "neg BIGINT NOT NULL DEFAULT -5)"
    )
    eng.sql(
        "INSERT INTO x04_t (k) SELECT c_custkey FROM customer "
        "WHERE c_custkey % 3 = 0"
    )
    eng.sql(
        "INSERT INTO x04_t (k, score) SELECT c_custkey, c_nationkey "
        "FROM customer WHERE c_custkey % 3 = 1"
    )
    eng.sql("INSERT INTO x04_t VALUES (-1, 'manual')")
    # PG DEFAULT keyword inside a VALUES tuple (folded per target column)
    eng.sql("INSERT INTO x04_t VALUES (-2, DEFAULT, 7, DEFAULT)")
    return eng.sql("SELECT k, status, score, neg FROM x04_t")


# --- x05: prepared statements (PREPARE / EXECUTE / DEALLOCATE) ----------------
# PG's server-side prepared statements (reference grammar PrepareStmt /
# ExecuteStmt / DeallocateStmt, parsenodes.h): the statement TEXT is
# stored once with $n placeholders and every EXECUTE folds that call's
# literal arguments into the slots before the normal dialect -> plan
# path runs — so prepared DML (the INSERT below) and prepared SELECT
# both work, and arguments holding commas or quotes bind correctly. The
# gate runs one prepared INSERT twice with different (segment, modulus)
# bindings, deallocates, and reads the table back.

_X05_ORACLE = """
SELECT 'BUILDING' AS seg, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(c_acctbal * 100.0) AS BIGINT)) AS BIGINT)
         AS bal_cents
FROM customer WHERE c_mktsegment = 'BUILDING' AND c_custkey % 2 = 0
UNION ALL
SELECT 'MACHINERY', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CAST(FLOOR(c_acctbal * 100.0) AS BIGINT)) AS BIGINT)
FROM customer WHERE c_mktsegment = 'MACHINERY' AND c_custkey % 3 = 0
"""


@query(
    "x05_prepared_statements", _X05_ORACLE,
    doc="PREPARE/EXECUTE/DEALLOCATE: one stored parameterised INSERT "
        "executed under two different bindings, then read back",
)
def x05(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    eng.sql("DROP TABLE IF EXISTS x05_t")
    eng.sql("CREATE TABLE x05_t (seg STRING, n BIGINT, bal_cents BIGINT)")
    eng.sql(
        "PREPARE segagg (STRING, BIGINT) AS "
        "INSERT INTO x05_t "
        "SELECT c_mktsegment, COUNT(*), "
        "       SUM(CAST(FLOOR(c_acctbal * 100.0) AS BIGINT)) "
        "FROM customer "
        "WHERE c_mktsegment = $1 AND c_custkey % $2 = 0 "
        "GROUP BY c_mktsegment"
    )
    eng.sql("EXECUTE segagg('BUILDING', 2)")
    eng.sql("EXECUTE segagg('MACHINERY', 3)")
    eng.sql("DEALLOCATE segagg")
    return eng.sql("SELECT seg, n, bal_cents FROM x05_t")


# --- x06: COPY statement (bulk file <-> table) --------------------------------
# PG CopyStmt (reference parser parsenodes.h PARENTSTMTTYPE_COPY): COPY
# (query) TO exports through the partition-parallel Spark sink (a
# DIRECTORY of files — the 100 TB contract; PG's single-file form is
# deliberately not emulated), and COPY t FROM funnels the files through
# the normal INSERT path, so declared DEFAULTs and constraints apply to
# bulk loads exactly as they do in PG. The gate exports a filtered
# customer slice to CSV, bulk-loads it into a typed table with a
# DEFAULT-bearing extra column, and reads the table back.

_X06_ORACLE = """
SELECT c_custkey AS k, c_mktsegment AS seg,
       CAST(FLOOR(c_acctbal * 100.0) AS BIGINT) AS bal_cents,
       'loaded' AS src
FROM customer WHERE c_custkey % 10 = 0
"""


@query(
    "x06_copy_statement", _X06_ORACLE,
    doc="COPY (query) TO csv directory + COPY t (cols) FROM: bulk "
        "export/load through the INSERT path with DEFAULT fill",
)
def x06(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from otterbrix_spark.engine import Engine
    from otterbrix_spark.workload import scratch_dir

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    out = os.path.join(scratch_dir("x06_copy_"), "export_csv")
    eng.sql(
        "COPY (SELECT c_custkey, c_mktsegment, "
        "             CAST(FLOOR(c_acctbal * 100.0) AS BIGINT) AS bal_cents "
        "      FROM customer WHERE c_custkey % 10 = 0) "
        f"TO '{out}' WITH (FORMAT csv, HEADER)"
    )
    eng.sql("DROP TABLE IF EXISTS x06_t")
    eng.sql(
        "CREATE TABLE x06_t (k BIGINT, seg STRING, bal_cents BIGINT, "
        "src STRING DEFAULT 'loaded')"
    )
    eng.sql(
        f"COPY x06_t (k, seg, bal_cents) FROM '{out}' (FORMAT csv, HEADER)"
    )
    return eng.sql("SELECT k, seg, bal_cents, src FROM x06_t")


# --- y04: schema evolution (ALTER ADD COLUMN DEFAULT backfill) ----------------
# PG's online schema-evolution sequence: rows inserted under schema v1,
# ALTER TABLE ADD COLUMN ... DEFAULT backfills them AND becomes the
# default for later inserts, RENAME COLUMN rewrites the projection —
# reference PHYSICAL_ADD_COLUMN family (operators/dml.py:175). The gate
# interleaves inserts across three schema versions and reads the final
# table back.

_Y04_ORACLE = """
SELECT c_custkey AS k, 'v1' AS phase, CAST(0 AS BIGINT) AS score2
FROM customer WHERE c_custkey % 4 = 0
UNION ALL
SELECT c_custkey, 'v2', 0
FROM customer WHERE c_custkey % 4 = 1
UNION ALL
SELECT c_custkey, 'v3', c_nationkey
FROM customer WHERE c_custkey % 4 = 2
"""


@query(
    "y04_schema_evolution", _Y04_ORACLE,
    doc="ALTER TABLE ADD COLUMN DEFAULT backfill + RENAME COLUMN across "
        "three interleaved insert phases",
)
def y04(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    eng.sql("DROP TABLE IF EXISTS y04_t")
    eng.sql("CREATE TABLE y04_t (k BIGINT)")
    eng.sql("INSERT INTO y04_t SELECT c_custkey FROM customer "
            "WHERE c_custkey % 4 = 0")
    # v2: phase column, backfilling the v1 rows with 'v1'
    eng.sql("ALTER TABLE y04_t ADD COLUMN phase STRING DEFAULT 'v1'")
    eng.sql("INSERT INTO y04_t (k, phase) SELECT c_custkey, 'v2' "
            "FROM customer WHERE c_custkey % 4 = 1")
    # v3: score column, zero-backfilled, then fully-specified inserts
    eng.sql("ALTER TABLE y04_t ADD COLUMN score BIGINT DEFAULT 0")
    eng.sql("INSERT INTO y04_t SELECT c_custkey, 'v3', c_nationkey "
            "FROM customer WHERE c_custkey % 4 = 2")
    eng.sql("ALTER TABLE y04_t RENAME COLUMN score TO score2")
    return eng.sql("SELECT k, phase, score2 FROM y04_t")


# --- x07: SCD Type-2 dimension maintenance ----------------------------------
# The warehouse pattern MERGE exists for (x03's row-level sibling):
# attribute changes CLOSE the current version (valid_to = change time)
# and open a new one, so facts join attributes as-of their own
# timestamps. Two change batches are applied through
# operators/scd.py::scd2_apply — per batch the only join is OPEN rows
# vs the change set; closed history is append-only and never rescanned
# (the property that keeps SCD2 viable on a billions-row dimension).
# The oracle replays both batches in set algebra — three UNION branches
# per batch (untouched / closed / opened) — so every versioning edge
# (no-op change, double change, zero-width version) is value-certified.

_X07_ORACLE = """
WITH dim0 AS (
  SELECT c_custkey AS k, c_mktsegment AS attr,
         CAST(0 AS BIGINT) AS vf, CAST(NULL AS BIGINT) AS vt
  FROM customer),
ch1 AS (
  SELECT o_custkey AS k, 'PRIORITY' AS attr,
         MIN(epoch_us(CAST(o_orderdate AS TIMESTAMP))) AS ts
  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
d1 AS (
  SELECT d.k, d.attr, d.vf,
         CASE WHEN c.k IS NOT NULL AND c.attr <> d.attr
              THEN c.ts END AS vt
  FROM dim0 d LEFT JOIN ch1 c USING (k)
  UNION ALL
  SELECT c.k, c.attr, c.ts, NULL
  FROM ch1 c JOIN dim0 d USING (k) WHERE c.attr <> d.attr),
ch2 AS (
  SELECT o_custkey AS k, 'LOWKEY' AS attr,
         MAX(epoch_us(CAST(o_orderdate AS TIMESTAMP))) AS ts
  FROM orders WHERE o_orderpriority = '5-LOW' GROUP BY 1),
open1 AS (SELECT * FROM d1 WHERE vt IS NULL),
closed1 AS (SELECT * FROM d1 WHERE vt IS NOT NULL),
d2 AS (
  SELECT * FROM closed1
  UNION ALL
  SELECT o.k, o.attr, o.vf,
         CASE WHEN c.k IS NOT NULL AND c.attr <> o.attr
              THEN c.ts END
  FROM open1 o LEFT JOIN ch2 c USING (k)
  UNION ALL
  SELECT c.k, c.attr, c.ts, NULL
  FROM ch2 c JOIN open1 o USING (k) WHERE c.attr <> o.attr)
SELECT k, attr,
       CAST(vf AS BIGINT) AS valid_from,
       CAST(vt AS BIGINT) AS valid_to
FROM d2 ORDER BY k, valid_from, attr
"""


@query(
    "x07_scd2_dimension", _X07_ORACLE,
    doc="SCD Type-2: two change batches close/open dimension versions "
        "via scd2_apply — open-rows-only join per batch, append-only "
        "history; oracle replays the set algebra",
)
def x07(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.operators.scd import scd2_apply

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    dim0 = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("attr"),
        F.lit(0).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )

    def batch(priority: str, attr: str, agg) -> DataFrame:
        return (
            orders.filter(F.col("o_orderpriority") == priority)
            .groupBy(F.col("o_custkey").alias("k"))
            .agg(
                agg(
                    F.unix_micros(F.col("o_orderdate").cast("timestamp"))
                ).alias("change_ts")
            )
            .withColumn("attr", F.lit(attr))
        )

    d1 = scd2_apply(
        dim0, batch("1-URGENT", "PRIORITY", F.min), "k", "attr"
    )
    d2 = scd2_apply(
        d1, batch("5-LOW", "LOWKEY", F.max), "k", "attr"
    )
    return d2.select(
        "k", "attr", "valid_from", "valid_to"
    ).orderBy("k", "valid_from", "attr")


# --- x08: point-in-time join against the SCD2 dimension ---------------------
# The reason SCD2 exists: every fact row joins the dimension attribute
# AS OF its own timestamp. Composition gate: the x07 machinery builds
# the versioned dimension (one change batch — version intervals
# [0, ts) / [ts, inf) per changed key, no ties), then the repo's as-of
# join (operators/temporal.py:34 — union + ONE window sweep, never a
# pairwise inequality join) attaches the in-effect version to every
# order. The oracle joins on the interval predicate (vf <= ts < vt)
# directly — the hash match proves the as-of sweep and the interval
# semantics agree on every boundary (a change on an order's exact date
# assigns the NEW version in both).

_X08_ORACLE = """
WITH dim0 AS (
  SELECT c_custkey AS k, c_mktsegment AS attr,
         CAST(0 AS BIGINT) AS vf, CAST(NULL AS BIGINT) AS vt
  FROM customer),
ch1 AS (
  SELECT o_custkey AS k, 'PRIORITY' AS attr,
         MIN(epoch_us(CAST(o_orderdate AS TIMESTAMP))) AS ts
  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
d1 AS (
  SELECT d.k, d.attr, d.vf,
         CASE WHEN c.k IS NOT NULL AND c.attr <> d.attr
              THEN c.ts END AS vt
  FROM dim0 d LEFT JOIN ch1 c USING (k)
  UNION ALL
  SELECT c.k, c.attr, c.ts, NULL
  FROM ch1 c JOIN dim0 d USING (k) WHERE c.attr <> d.attr),
f AS (
  SELECT o_custkey AS k,
         epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS ts,
         CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS cents
  FROM orders)
SELECT d.attr,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(f.cents) AS BIGINT) AS cents,
       CAST(COUNT(DISTINCT f.k) AS BIGINT) AS n_cust
FROM f JOIN d1 d
  ON f.k = d.k AND d.vf <= f.ts AND (d.vt IS NULL OR f.ts < d.vt)
GROUP BY 1 ORDER BY 1
"""


@query(
    "x08_scd2_asof_join", _X08_ORACLE,
    doc="point-in-time fact join vs the SCD2 dimension: as-of window "
        "sweep vs the oracle's interval predicate — boundary semantics "
        "certified on exact-date changes",
)
def x08(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.operators.scd import scd2_apply
    from otterbrix_spark.operators.temporal import as_of_join

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    dim0 = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("attr"),
        F.lit(0).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    ch1 = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(
            F.min(
                F.unix_micros(F.col("o_orderdate").cast("timestamp"))
            ).alias("change_ts")
        )
        .withColumn("attr", F.lit("PRIORITY"))
    )
    d1 = scd2_apply(dim0, ch1, "k", "attr")
    versions = d1.select("k", "attr", "valid_from")
    facts = orders.select(
        F.col("o_custkey").alias("k"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("ts"),
        F.floor(F.col("o_totalprice") * 100.0).cast("long").alias("cents"),
    )
    joined = as_of_join(
        facts, versions, key="k", left_ts="ts", right_ts="valid_from",
        payload="attr",
    )
    return (
        joined.groupBy(F.col("matched_payload").alias("attr"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("long").alias("cents"),
            F.countDistinct("k").alias("n_cust"),
        )
        .orderBy("attr")
    )


# --- q99: SELECT INTO + ORDER BY ... USING -----------------------------------
# Two PG grammar staples with no Spark equivalent, lowered by the
# dialect: ``SELECT ... INTO tbl FROM ...`` (the CTAS
# variant with the target spliced mid-statement — grammar into_clause;
# lifted back out to CREATE TABLE AS so the catalog's managed-table
# CTAS path owns it) and ``ORDER BY x USING <``/``USING >``
# (operator-class sort -> ASC/DESC). The gate materialises a filtered
# projection via SELECT INTO, then reads it back USING-ordered; the
# oracle replays the plain relational equivalent directly against the
# corpus — certifying that the managed table holds exactly the
# selected rows.

_Q99_ORACLE = """
SELECT c_custkey, c_nationkey,
       CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS bal_cents
FROM customer WHERE c_acctbal > 9000
ORDER BY bal_cents DESC, c_custkey
LIMIT 50
"""


@query(
    "q99_select_into_using", _Q99_ORACLE,
    doc="PG SELECT INTO (-> catalog CTAS) + ORDER BY ... USING </> "
        "(-> ASC/DESC); managed table re-read and "
        "hash-matched against the direct relational oracle",
)
def q99(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    eng.sql("DROP TABLE IF EXISTS q99_top")
    eng.sql(
        "SELECT c_custkey, c_nationkey, "
        "       CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS bal_cents "
        "INTO q99_top "
        "FROM customer WHERE c_acctbal > 9000"
    )
    return eng.sql(
        "SELECT c_custkey, c_nationkey, bal_cents FROM q99_top "
        "ORDER BY bal_cents USING >, c_custkey USING < LIMIT 50"
    )


# --- x09: TRUNCATE statement ---------------------------------------------------
# PG TruncateStmt: empty tables keeping schema/constraints/defaults,
# with the three semantics DELETE doesn't have — RESTRICT refuses when
# an OUTSIDE table holds an FK to a truncated one (even with zero
# referencing rows), CASCADE pulls dependents in transitively, and
# RESTART IDENTITY rewinds the sequences feeding the table's column
# DEFAULTs. The gate walks the full chain: FK-guarded truncate must
# raise; CASCADE empties parent and child; a sequence-DEFAULT audit
# table is truncated RESTART IDENTITY and must hand out its START value
# again. Final state is corpus-derived where possible (parent refilled
# from nation) so the oracle isn't a constant tuple.

_X09_ORACLE = """
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nation WHERE n_regionkey = 1)
         AS parent_rows,
       CAST(0 AS BIGINT) AS child_rows,
       CAST(100 AS BIGINT) AS audit_id,
       CAST(1 AS BIGINT) AS audit_rows
"""


@query(
    "x09_truncate", _X09_ORACLE,
    doc="TRUNCATE: RESTRICT raises on an outside FK (even with zero "
        "referencing rows), CASCADE empties dependents transitively, "
        "RESTART IDENTITY rewinds DEFAULT-feeding sequences to START",
)
def x09(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine
    from otterbrix_spark.operators.dml import ConstraintViolation

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    for stmt in (
        "DROP TABLE IF EXISTS x09_child",
        "DROP TABLE IF EXISTS x09_parent",
        "DROP TABLE IF EXISTS x09_audit",
        "DROP SEQUENCE IF EXISTS x09_seq",
        "CREATE SEQUENCE x09_seq START 100",
        "CREATE TABLE x09_parent AS SELECT n_nationkey, n_name FROM nation",
        "CREATE TABLE x09_child AS "
        "  SELECT c_custkey, c_nationkey FROM customer WHERE c_custkey % 10 = 0",
        "ALTER TABLE x09_child ADD CONSTRAINT x09_fk FOREIGN KEY "
        "  (c_nationkey) REFERENCES x09_parent (n_nationkey)",
    ):
        eng.sql(stmt)
    try:
        eng.sql("TRUNCATE x09_parent")  # RESTRICT default: must refuse
        raise AssertionError("x09: FK-guarded TRUNCATE did not raise")
    except ConstraintViolation:
        pass
    eng.sql("TRUNCATE TABLE x09_parent CASCADE")
    eng.sql(
        "INSERT INTO x09_parent "
        "SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 1"
    )
    eng.sql(
        "CREATE TABLE x09_audit "
        "(id bigint DEFAULT nextval('x09_seq'), v varchar(10))"
    )
    eng.sql("INSERT INTO x09_audit (v) VALUES ('a')")
    eng.sql("INSERT INTO x09_audit (v) VALUES ('b')")
    eng.sql("TRUNCATE x09_audit RESTART IDENTITY")
    eng.sql("INSERT INTO x09_audit (v) VALUES ('c')")
    return eng.sql(
        "SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM x09_parent) "
        "         AS parent_rows, "
        "       (SELECT CAST(COUNT(*) AS BIGINT) FROM x09_child) "
        "         AS child_rows, "
        "       (SELECT CAST(MIN(id) AS BIGINT) FROM x09_audit) AS audit_id, "
        "       (SELECT CAST(COUNT(*) AS BIGINT) FROM x09_audit) "
        "         AS audit_rows"
    )


# --- x10: RETURNING expression lists -----------------------------------------
# PG's RETURNING accepts a full select list (columns, expressions,
# aliases) evaluated over the AFFECTED rows' post-change values — the
# surface the round-8 router widening added beyond `RETURNING *`. The
# gate drives one leg per DML form through the engine and returns the
# UNION of the returned rows (tagged per leg); the oracle replays each
# leg's returned set declaratively from the source table. Table: the
# customer slice keyed by c_custkey, balance in exact cents.

_X10_ORACLE = """
WITH base AS (
  SELECT c_custkey AS k,
         CAST(FLOOR(c_acctbal * 100.0) AS BIGINT) AS bal
  FROM customer)
SELECT 'ins' AS leg, k, bal + 7 AS v FROM base WHERE k % 5 = 4
UNION ALL
SELECT 'upd', k, bal * 2 FROM base WHERE k % 5 = 1
UNION ALL
SELECT 'del', k, bal // 2 FROM base WHERE k % 5 = 2
ORDER BY leg, k
"""


@query(
    "x10_returning_exprs", _X10_ORACLE,
    doc="RETURNING expression lists on INSERT/UPDATE/DELETE: post-change "
        "values, aliases and computed expressions (PG select-list "
        "semantics, beyond RETURNING *)",
)
def x10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    eng.sql("DROP TABLE IF EXISTS x10_t")
    eng.sql("CREATE TABLE x10_t (k BIGINT, bal BIGINT)")
    eng.sql(
        "INSERT INTO x10_t SELECT c_custkey, "
        "CAST(FLOOR(c_acctbal * 100.0) AS BIGINT) FROM customer "
        "WHERE c_custkey % 5 IN (0, 1, 2, 3)"
    )
    ins = eng.sql(
        "INSERT INTO x10_t SELECT c_custkey, "
        "CAST(FLOOR(c_acctbal * 100.0) AS BIGINT) FROM customer "
        "WHERE c_custkey % 5 = 4 RETURNING k, bal + 7 AS v"
    )
    upd = eng.sql(
        "UPDATE x10_t SET bal = bal * 2 WHERE k % 5 = 1 "
        "RETURNING k, bal AS v"
    )
    dele = eng.sql(
        "DELETE FROM x10_t WHERE k % 5 = 2 RETURNING k, bal DIV 2 AS v"
    )
    return (
        ins.select(F.lit("ins").alias("leg"), "k", "v")
        .unionByName(upd.select(F.lit("upd").alias("leg"), "k", "v"))
        .unionByName(dele.select(F.lit("del").alias("leg"), "k", "v"))
        .orderBy("leg", "k")
    )


# --- x11: ALTER COLUMN TYPE / SET DEFAULT -------------------------------------
# PG's AT_AlterColumnType + AT_ColumnDefault actions: the whole column
# rewrites through an optional USING expression and the statement REFUSES
# (table untouched) when any non-NULL value cannot convert — under
# Spark 4's ANSI mode the guard counts offenders via try_cast instead of
# letting a raw NumberFormatException escape mid-rewrite. The gate
# builds a text-typed balance column from customer, converts it to
# BIGINT cents via USING, re-types it to a string label, flips the
# column DEFAULT between inserts, and returns the final state; the
# oracle replays the conversions declaratively.

_X11_ORACLE = """
WITH base AS (
  SELECT c_custkey AS k,
         CAST(FLOOR(c_acctbal * 100.0) AS BIGINT) AS cents
  FROM customer WHERE c_custkey % 7 = 0)
SELECT k, 'c' || CAST(cents AS VARCHAR) AS tag FROM base
UNION ALL
SELECT -1, 'c5' UNION ALL SELECT -2, 'c9'
ORDER BY k, tag
"""


@query(
    "x11_alter_column_type", _X11_ORACLE,
    doc="ALTER COLUMN TYPE [USING] + SET/DROP DEFAULT: whole-column "
        "rewrite with conversion validation (refuses, table untouched) "
        "and default flips between inserts",
)
def x11(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    eng.sql("DROP TABLE IF EXISTS x11_t")
    eng.sql("CREATE TABLE x11_t (k BIGINT, bal VARCHAR(24) DEFAULT '5')")
    eng.sql(
        "INSERT INTO x11_t SELECT c_custkey, "
        "CAST(CAST(FLOOR(c_acctbal * 100.0) AS BIGINT) AS STRING) "
        "FROM customer WHERE c_custkey % 7 = 0"
    )
    eng.sql("INSERT INTO x11_t (k) VALUES (-1)")  # default '5'
    eng.sql("ALTER TABLE x11_t ALTER COLUMN bal SET DEFAULT '9'")
    eng.sql("INSERT INTO x11_t (k) VALUES (-2)")  # default '9'
    # text -> bigint (every value is digits, so the validation passes)
    eng.sql("ALTER TABLE x11_t ALTER COLUMN bal TYPE bigint")
    # bigint -> labelled string via USING
    eng.sql(
        "ALTER TABLE x11_t ALTER COLUMN bal TYPE varchar(24) "
        "USING concat('c', CAST(bal AS STRING))"
    )
    # a conversion that must refuse: labels are not numeric any more
    try:
        eng.sql("ALTER TABLE x11_t ALTER COLUMN bal TYPE bigint")
        raise AssertionError("x11: non-convertible ALTER TYPE did not raise")
    except ValueError:
        pass
    return eng.sql(
        "SELECT k, bal AS tag FROM x11_t ORDER BY k, tag"
    )


# --- x12: pg_catalog introspection --------------------------------------------
# The reference materializes pg_database / pg_namespace / pg_class /
# pg_proc rows and resolves tooling queries through real catalog-probe
# operators (components/catalog/system_table_schemas.cpp:260-272,
# services/collection/executor.cpp:540-600). The engine mirrors that
# surface: system views rebuilt on demand over live catalog state, so a
# reference user's `SELECT relname FROM pg_class` habit works. The gate
# creates one object of every kind (managed table, dynamic table, view,
# materialized view, sequence, SQL function, second namespace), then runs
# the canonical tooling dump — pg_class joined through pg_namespace with
# the pg_attribute/pg_type column walk, plus the pg_proc listing — and
# the oracle is the DECLARATIVE expected catalog (a VALUES constant):
# any drift in oids wiring, relkind codes, type mapping or namespace
# resolution breaks the hash.

_X12_ORACLE = """
SELECT * FROM (VALUES
  ('public', 'x12_dyn', 'g', 'a',    'int8',   1),
  ('public', 'x12_dyn', 'g', 's',    'text',   2),
  ('public', 'x12_mv',  'm', 'one',  'int8',   1),
  ('public', 'x12_seq', 'S', NULL,   NULL,     NULL),
  ('public', 'x12_t',   'r', 'k',    'int8',   1),
  ('public', 'x12_t',   'r', 'name', 'text',   2),
  ('public', 'x12_t',   'r', 'bal',  'float8', 3),
  ('public', 'x12_t',   'r', 'flag', 'bool',   4),
  ('public', 'x12_t',   'r', 'd',    'date',   5),
  ('public', 'x12_v',   'v', NULL,   NULL,     NULL),
  ('public', 'x12f',    'f', NULL,   NULL,     NULL),
  ('x12db',  't2',      'r', 'a',    'int8',   1)
) AS t(nspname, relname, relkind, attname, typname, attnum)
ORDER BY nspname, relname, attnum
"""


@query(
    "x12_pg_catalog", _X12_ORACLE,
    doc="pg_catalog introspection views over live engine state: pg_class/"
        "pg_namespace/pg_attribute/pg_type/pg_proc rebuilt on demand "
        "(reference system_table_schemas.cpp pg_* row materialization)",
)
def x12(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    eng.sql("CREATE TABLE x12_t (k bigint, name varchar(12), "
            "bal double precision, flag boolean, d date)")
    eng.sql("CREATE TABLE x12_dyn ()")  # schema-on-write: relkind 'g'
    eng.sql("INSERT INTO x12_dyn SELECT CAST(1 AS BIGINT) AS a, 'x' AS s")
    eng.sql("CREATE VIEW x12_v AS SELECT 1 AS one")
    eng.sql("CREATE MATERIALIZED VIEW x12_mv AS "
            "SELECT CAST(1 AS BIGINT) AS one")
    eng.sql("CREATE SEQUENCE x12_seq START 5")
    eng.sql("CREATE FUNCTION x12f(x bigint) RETURNS bigint RETURN x * 2")
    eng.sql("CREATE DATABASE x12db")
    eng.sql("CREATE TABLE x12db.t2 (a bigint)")
    return eng.sql(
        "SELECT n.nspname, c.relname, c.relkind, "
        "       a.attname, t.typname, a.attnum "
        "FROM pg_class c "
        "JOIN pg_namespace n ON n.oid = c.relnamespace "
        "LEFT JOIN pg_attribute a ON a.attrelid = c.oid "
        "LEFT JOIN pg_type t ON t.oid = a.atttypid "
        "UNION ALL "
        "SELECT 'public', proname, 'f', CAST(NULL AS STRING), "
        "       CAST(NULL AS STRING), CAST(NULL AS INT) "
        "FROM pg_proc "
        "ORDER BY nspname, relname, attnum"
    )


# --- x13: information_schema introspection ------------------------------------
# The SQL-standard half of the x12 surface: information_schema.tables /
# .columns as implicit-namespace views over the same live catalog state
# (PG exposes both; JDBC metadata and ORMs read this one). data_type
# uses PG's standard spellings (bigint, double precision, timestamp
# with time zone, ...); table_type distinguishes BASE TABLE / VIEW /
# MATERIALIZED VIEW. The oracle is the declarative expected catalog.

_X13_ORACLE = """
SELECT * FROM (VALUES
  ('public', 'x13_t', 'BASE TABLE', 'k',    1, 'bigint',           'YES'),
  ('public', 'x13_t', 'BASE TABLE', 'v',    2, 'text',             'YES'),
  ('public', 'x13_t', 'BASE TABLE', 'bal',  3, 'double precision', 'YES'),
  ('public', 'x13_t', 'BASE TABLE', 'ts',   4, 'timestamp with time zone',
   'YES'),
  ('public', 'x13_v', 'VIEW',        NULL, NULL, NULL, NULL),
  ('x13db',  't2',    'BASE TABLE', 'a',    1, 'bigint',           'YES')
) AS t(table_schema, table_name, table_type, column_name,
       ordinal_position, data_type, is_nullable)
ORDER BY table_schema, table_name, ordinal_position
"""


@query(
    "x13_information_schema", _X13_ORACLE,
    doc="information_schema.tables/.columns over live engine state: "
        "implicit namespace, PG-standard data_type spellings, "
        "BASE TABLE vs VIEW table_type (the JDBC-metadata surface)",
)
def x13(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    eng.sql("CREATE TABLE x13_t (k bigint, v varchar(16), "
            "bal double precision, ts timestamptz)")
    eng.sql("CREATE VIEW x13_v AS SELECT 1 AS one")
    eng.sql("CREATE DATABASE x13db")
    eng.sql("CREATE TABLE x13db.t2 (a bigint)")
    return eng.sql(
        "SELECT t.table_schema, t.table_name, t.table_type, "
        "       c.column_name, c.ordinal_position, c.data_type, "
        "       c.is_nullable "
        "FROM information_schema.tables t "
        "LEFT JOIN information_schema.columns c "
        "  ON c.table_schema = t.table_schema "
        " AND c.table_name = t.table_name "
        "ORDER BY t.table_schema, t.table_name, c.ordinal_position"
    )


# --- x14: savepoints ----------------------------------------------------------
# PG TransactionStmt savepoint forms: SAVEPOINT snapshots the staged
# frames (immutable lazy plans — a shallow copy IS the snapshot),
# ROLLBACK TO restores them and discards later savepoints while the
# target survives, RELEASE drops the savepoint keeping the changes.
# The gate replays a seeded txn: load, savepoint, destructive UPDATE +
# DELETE, rollback to the savepoint, a second (kept) change, RELEASE,
# COMMIT — the final table must show ONLY the kept change.

_X14_ORACLE = """
WITH base AS (
  SELECT c_custkey AS k,
         CAST(FLOOR(c_acctbal * 100.0) AS BIGINT) AS cents
  FROM customer WHERE c_custkey % 3 = 0)
SELECT k, CASE WHEN k % 5 = 0 THEN cents + 11 ELSE cents END AS cents
FROM base ORDER BY k
"""


@query(
    "x14_savepoints", _X14_ORACLE,
    doc="SAVEPOINT / ROLLBACK TO / RELEASE: partial rollback inside a "
        "txn — destructive changes after the savepoint undone, the kept "
        "change committed (PG TransactionStmt savepoint forms)",
)
def x14(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    eng.sql("DROP TABLE IF EXISTS x14_t")
    eng.sql("CREATE TABLE x14_t (k BIGINT, cents BIGINT)")
    eng.sql("BEGIN")
    eng.sql(
        "INSERT INTO x14_t SELECT c_custkey, "
        "CAST(FLOOR(c_acctbal * 100.0) AS BIGINT) FROM customer "
        "WHERE c_custkey % 3 = 0"
    )
    eng.sql("SAVEPOINT loaded")
    eng.sql("UPDATE x14_t SET cents = 0")          # destructive...
    eng.sql("DELETE FROM x14_t WHERE k % 2 = 0")   # ...and worse
    eng.sql("ROLLBACK TO SAVEPOINT loaded")        # both undone
    eng.sql("UPDATE x14_t SET cents = cents + 11 WHERE k % 5 = 0")
    eng.sql("RELEASE SAVEPOINT loaded")            # kept
    eng.sql("COMMIT")
    return eng.sql("SELECT k, cents FROM x14_t ORDER BY k")


# --- x15: CREATE TABLE (LIKE ...) ----------------------------------------------
# PG TableLikeClause: the new table copies the source's columns; the
# INCLUDING DEFAULTS / CONSTRAINTS / ALL options copy the pg_attrdef /
# pg_constraint records (PG copies neither by default). The gate builds
# a source with a DEFAULT, clones it INCLUDING ALL, loads it through
# short INSERTs (the default fills), and proves the plain clone copied
# neither default nor constraint.

_X15_ORACLE = """
WITH src AS (
  SELECT c_custkey AS k FROM customer WHERE c_custkey % 4 = 1)
SELECT 'all' AS leg, k, 77 AS v FROM src
UNION ALL
SELECT 'plain', k, NULL FROM src
ORDER BY leg, k
"""


@query(
    "x15_create_table_like", _X15_ORACLE,
    doc="CREATE TABLE (LIKE src [INCLUDING DEFAULTS|CONSTRAINTS|ALL]): "
        "column copy into an empty table; defaults/constraints copied "
        "only when asked (PG TableLikeClause)",
)
def x15(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    for t in ("x15_src", "x15_all", "x15_plain"):
        eng.sql(f"DROP TABLE IF EXISTS {t}")
    eng.sql("CREATE TABLE x15_src (k BIGINT, v BIGINT DEFAULT 77, "
            "CONSTRAINT x15_pos CHECK (v IS NULL OR v > 0))")
    eng.sql("CREATE TABLE x15_all (LIKE x15_src INCLUDING ALL)")
    eng.sql("CREATE TABLE x15_plain (LIKE x15_src)")
    eng.sql("INSERT INTO x15_all (k) SELECT c_custkey FROM customer "
            "WHERE c_custkey % 4 = 1")  # default 77 fills v
    eng.sql("INSERT INTO x15_plain (k) SELECT c_custkey FROM customer "
            "WHERE c_custkey % 4 = 1")  # no default: v stays NULL
    try:
        eng.sql("INSERT INTO x15_all VALUES (-1, -9)")
        raise AssertionError("x15: copied CHECK did not enforce")
    except AssertionError:
        raise
    except Exception:
        pass  # constraint refused, as copied
    eng.sql("INSERT INTO x15_plain VALUES (-1, -9)")  # no constraint copied
    eng.sql("DELETE FROM x15_plain WHERE k = -1")     # restore parity
    return eng.sql(
        "SELECT 'all' AS leg, k, v FROM x15_all "
        "UNION ALL SELECT 'plain', k, v FROM x15_plain "
        "ORDER BY leg, k"
    )


# --- x16: parser extension (claim-or-pass) ------------------------------------
# Reference parser_extension_t (components/sql/parser/extension.hpp:24-43,
# test integration/cpp/test/test_parser_extension.cpp): a registered
# extension gets the raw statement BEFORE the built-in parser; a
# successful parse claims it, otherwise it passes through, and per-engine
# registration means other engine instances never see it. The gate
# registers a custom `COUNT_BY <table> <column>` statement, proves the
# built-in path still serves plain SQL on the same engine, and returns
# the extension-produced grouped count over real data.

_X16_ORACLE = """
SELECT o_orderpriority AS key, CAST(COUNT(*) AS BIGINT) AS n
FROM orders GROUP BY o_orderpriority ORDER BY key
"""


@query(
    "x16_parser_extension", _X16_ORACLE,
    doc="claim-or-pass parser extension: custom COUNT_BY statement "
        "claimed before built-in routing (reference "
        "components/sql/parser/extension.hpp contract), plain SQL "
        "falls through untouched on the same engine",
)
def x16(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re

    from pyspark.sql import functions as _F

    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)

    def count_by(sql: str):
        m = re.match(r"^\s*COUNT_BY\s+(\w+)\s+(\w+)\s*;?\s*$", sql,
                     re.IGNORECASE)
        if m is None:
            return None  # pass: not ours
        tbl, col = m.group(1), m.group(2)
        return (
            spark.table(tbl)
            .groupBy(_F.col(col).alias("key"))
            .agg(_F.count(_F.lit(1)).alias("n"))
            .orderBy("key")
        )

    eng.register_extension("count_by", count_by)
    # plain SQL still routes through the built-in parser on this engine
    assert eng.sql("SELECT 1 AS one").collect()[0].one == 1
    return eng.sql("COUNT_BY orders o_orderpriority")


# --- x17: information_schema FK discovery (key_column_usage + ---------------
# referential_constraints). The SQL-standard surface ORMs and migration
# tools use to discover key structure (PG information_schema ch. 37):
# key columns of every PK/UNIQUE/FK constraint with ordinal positions,
# and the FK -> referenced-unique-constraint mapping with action rules.
# The gate builds a two-table keyed schema (composite PK, UNIQUE, FK
# with ON DELETE CASCADE) and reads the joined discovery surface; the
# oracle replays the expected literal rows.

_X17_ORACLE = """
SELECT * FROM (VALUES
  ('x17_child_fk',  'x17_child',   'parent_k', 1, 'k_key',
   'CASCADE'),
  ('x17_child_u',   'x17_child',   'tag',      1, NULL, NULL),
  ('x17_parent_pk', 'x17_parent',  'k1',       1, NULL, NULL),
  ('x17_parent_pk', 'x17_parent',  'k2',       2, NULL, NULL),
  ('k_key',          'x17_uparent', 'k',      1, NULL, NULL)
) AS t(constraint_name, table_name, column_name, ordinal_position,
       unique_constraint_name, delete_rule)
ORDER BY constraint_name, ordinal_position
"""


@query(
    "x17_fk_discovery", _X17_ORACLE,
    doc="information_schema.key_column_usage + referential_constraints "
        "over live engine state: composite-PK ordinals, UNIQUE keys, FK "
        "-> referenced-constraint mapping with delete_rule (the ORM/"
        "migration-tool discovery surface)",
)
def x17(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    for t in ("x17_child", "x17_parent"):
        eng.sql(f"DROP TABLE IF EXISTS {t}")
    eng.sql("DROP TABLE IF EXISTS x17_uparent")
    eng.sql("CREATE TABLE x17_parent (k1 BIGINT, k2 BIGINT, "
            "CONSTRAINT x17_parent_pk PRIMARY KEY (k1, k2))")
    # the FK references a SINGLE-column unique parent key (the engine's
    # FK form), whose column-level auto-derived constraint name is k_key
    eng.sql("CREATE TABLE x17_uparent (k BIGINT UNIQUE)")
    eng.sql("CREATE TABLE x17_child (id BIGINT, parent_k BIGINT, "
            "tag BIGINT, "
            "CONSTRAINT x17_child_u UNIQUE (tag), "
            "CONSTRAINT x17_child_fk FOREIGN KEY (parent_k) "
            "REFERENCES x17_uparent (k) ON DELETE CASCADE)")
    return eng.sql(
        "SELECT k.constraint_name, k.table_name, k.column_name, "
        "       k.ordinal_position, r.unique_constraint_name, "
        "       r.delete_rule "
        "FROM information_schema.key_column_usage k "
        "LEFT JOIN information_schema.referential_constraints r "
        "  ON r.constraint_name = k.constraint_name "
        "WHERE k.table_name IN "
        "  ('x17_parent', 'x17_child', 'x17_uparent') "
        "ORDER BY k.constraint_name, k.ordinal_position"
    )


# --- x18: data-modifying CTEs (PG wCTE) ---------------------------------------
# PG's WITH ... AS (INSERT/UPDATE/DELETE ... RETURNING ...): every
# sub-statement sees the statement-start snapshot, each executes exactly
# once, and the RETURNING rows are the CTE's output (reference statement
# surface: components/table/transaction.hpp — per-statement atomicity).
# The gate runs the canonical "move rows" form (DELETE feeding an INSERT)
# and the snapshot-isolation form (a main SELECT joining the UPDATE's
# RETURNING rows against the PRE-update table state), then returns all
# three legs; the oracle replays the algebra declaratively.

_X18_ORACLE = """
WITH base AS (
  SELECT c_custkey AS k,
         CAST(FLOOR(c_acctbal * 100.0) AS BIGINT) AS bal
  FROM customer),
moved AS (SELECT k, bal FROM base WHERE bal < 0),
kept AS (SELECT k, bal FROM base WHERE NOT (bal < 0)),
upd AS (SELECT k, bal + 1000 AS new_bal, bal AS old_bal
        FROM kept WHERE k % 10 = 3)
SELECT 'arch' AS leg, k, bal AS v1, CAST(NULL AS BIGINT) AS v2 FROM moved
UNION ALL
SELECT 'upd' AS leg, k, new_bal AS v1, old_bal AS v2 FROM upd
UNION ALL
SELECT 'live' AS leg, k,
       CASE WHEN k % 10 = 3 THEN bal + 1000 ELSE bal END AS v1,
       CAST(NULL AS BIGINT) AS v2
FROM kept WHERE k % 25 = 0
ORDER BY leg, k
"""


@query(
    "x18_modifying_ctes", _X18_ORACLE,
    doc="data-modifying CTEs: DELETE..RETURNING feeding INSERT (move "
        "rows), UPDATE..RETURNING joined against the statement-start "
        "snapshot (wCTE isolation), final table state",
)
def x18(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    for t in ("x18_acct", "x18_arch"):
        eng.sql(f"DROP TABLE IF EXISTS {t}")
    eng.sql("CREATE TABLE x18_acct (k BIGINT, bal BIGINT)")
    eng.sql(
        "INSERT INTO x18_acct SELECT c_custkey, "
        "CAST(FLOOR(c_acctbal * 100.0) AS BIGINT) FROM customer"
    )
    eng.sql("CREATE TABLE x18_arch (k BIGINT, bal BIGINT)")
    # move rows: DELETE ... RETURNING feeds the INSERT in one statement
    eng.sql(
        "WITH moved AS (DELETE FROM x18_acct WHERE bal < 0 "
        "RETURNING k, bal) "
        "INSERT INTO x18_arch SELECT k, bal FROM moved"
    )
    # snapshot isolation: the main SELECT joins the UPDATE's RETURNING
    # rows against the PRE-update state of the same table
    upd = eng.sql(
        "WITH upd AS (UPDATE x18_acct SET bal = bal + 1000 "
        "WHERE k % 10 = 3 RETURNING k, bal) "
        "SELECT u.k, u.bal AS new_bal, a.bal AS old_bal "
        "FROM upd u JOIN x18_acct a ON a.k = u.k"
    )
    arch = eng.sql("SELECT k, bal FROM x18_arch")
    live = eng.sql("SELECT k, bal FROM x18_acct WHERE k % 25 = 0")
    null_v2 = F.lit(None).cast("long")
    return (
        arch.select(
            F.lit("arch").alias("leg"), "k",
            F.col("bal").alias("v1"), null_v2.alias("v2"),
        )
        .unionByName(upd.select(
            F.lit("upd").alias("leg"), "k",
            F.col("new_bal").alias("v1"), F.col("old_bal").alias("v2"),
        ))
        .unionByName(live.select(
            F.lit("live").alias("leg"), "k",
            F.col("bal").alias("v1"), null_v2.alias("v2"),
        ))
        .orderBy("leg", "k")
    )


# --- x19: server-side cursors (DECLARE / FETCH / MOVE / CLOSE) ----------------
# The statement face of the reference's chunked cursor contract
# (components/cursor/cursor.hpp:20-60: a cursor is a sequence of <=1024-row
# chunks fetched incrementally). DECLARE plans the query; FETCH n streams
# exactly n rows to the driver via toLocalIterator (never the whole
# result); MOVE advances without returning rows; non-holdable cursors die
# with the transaction. The oracle replays the pagination with
# LIMIT/OFFSET arithmetic over the same total order.

_X19_ORACLE = """
WITH q AS (
  SELECT c_custkey AS k, c_mktsegment AS seg,
         ROW_NUMBER() OVER (ORDER BY c_custkey) AS rn
  FROM customer)
SELECT 'f1' AS leg, k, seg FROM q WHERE rn <= 40
UNION ALL
SELECT 'f2' AS leg, k, seg FROM q WHERE rn > 60 AND rn <= 100
UNION ALL
SELECT 'f3' AS leg, k, seg FROM q WHERE rn > 100 AND rn <= 200
ORDER BY leg, k
"""


@query(
    "x19_cursor_pagination", _X19_ORACLE,
    doc="server-side cursors: DECLARE NO SCROLL CURSOR FOR, FETCH n / "
        "MOVE n / FETCH FORWARD streaming pagination via "
        "toLocalIterator, CLOSE; oracle replays with row-number windows",
)
def x19(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    eng.sql("BEGIN")
    eng.sql(
        "DECLARE x19c NO SCROLL CURSOR FOR "
        "SELECT c_custkey AS k, c_mktsegment AS seg FROM customer "
        "ORDER BY c_custkey"
    )
    f1 = eng.sql("FETCH 40 FROM x19c")
    eng.sql("MOVE FORWARD 20 x19c")
    f2 = eng.sql("FETCH FORWARD 40 FROM x19c")
    f3 = eng.sql("FETCH 100 FROM x19c")
    eng.sql("CLOSE x19c")
    eng.sql("COMMIT")
    return (
        f1.select(F.lit("f1").alias("leg"), "k", "seg")
        .unionByName(f2.select(F.lit("f2").alias("leg"), "k", "seg"))
        .unionByName(f3.select(F.lit("f3").alias("leg"), "k", "seg"))
        .orderBy("leg", "k")
    )


# --- x20: FK ON DELETE SET NULL + transactional DDL ---------------------------
# Reference test_sql_features::fk_set_null (+ the rollback variant) and
# ddl_inside_explicit_txn_transactional: deleting a referenced parent
# NULLs the FK column in surviving child rows (one distributed left join
# + projection, no per-row work), and a table created inside a rolled-
# back transaction leaves no trace. The oracle replays the set-null
# algebra declaratively; the rolled-back DDL is asserted by the engine
# result being unaffected.

_X20_ORACLE = """
WITH child AS (
  SELECT o_orderkey AS id,
         CASE WHEN o_custkey % 3 = 0 THEN o_custkey ELSE NULL END
           AS parent_id
  FROM orders),
after AS (
  SELECT id,
         CASE WHEN parent_id IS NOT NULL AND parent_id % 2 = 0
              THEN NULL ELSE parent_id END AS parent_id
  FROM child)
SELECT COALESCE(CAST(parent_id % 10 AS BIGINT), -1) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(id) AS BIGINT) AS id_sum
FROM after GROUP BY bucket ORDER BY bucket
"""


@query(
    "x20_fk_set_null", _X20_ORACLE,
    doc="FK ON DELETE SET NULL (surviving children, nulled FK) + "
        "transactional CREATE TABLE discarded by ROLLBACK",
)
def x20(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    for t in ("x20_child", "x20_parent", "x20_ghost"):
        eng.sql(f"DROP TABLE IF EXISTS {t}")
    eng.sql("CREATE TABLE x20_parent (k BIGINT)")
    eng.sql(
        "INSERT INTO x20_parent SELECT c_custkey FROM customer "
        "WHERE c_custkey % 3 = 0"
    )
    eng.sql(
        "CREATE TABLE x20_child (id BIGINT, parent_id BIGINT, "
        "CONSTRAINT x20_fk FOREIGN KEY (parent_id) "
        "REFERENCES x20_parent (k) ON DELETE SET NULL)"
    )
    eng.sql(
        "INSERT INTO x20_child SELECT o_orderkey, "
        "CASE WHEN o_custkey % 3 = 0 THEN o_custkey ELSE NULL END "
        "FROM orders"
    )
    # transactional DDL: the rolled-back CREATE leaves no trace
    eng.sql("BEGIN")
    eng.sql("CREATE TABLE x20_ghost (id BIGINT)")
    eng.sql("INSERT INTO x20_ghost VALUES (1)")
    eng.sql("ROLLBACK")
    # the SET NULL delete: even parents disappear, children survive nulled
    eng.sql("DELETE FROM x20_parent WHERE k % 2 = 0")
    return eng.sql(
        "SELECT COALESCE(CAST(parent_id % 10 AS BIGINT), -1) AS bucket, "
        "CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(id) AS BIGINT) AS id_sum "
        "FROM x20_child GROUP BY bucket ORDER BY bucket"
    )


# --- x21: engine-restart persistence ------------------------------------------
# Reference test_persistence.cpp / reopen_resolves_columns_after_checkpoint:
# a SECOND engine instance over the same table directory must see the
# tables (parquet dirs rediscovered), the catalog metadata
# (constraints / sequences / views from _catalog.json), and continue
# sequences without id reuse. The gate builds state with engine 1,
# reopens as engine 2 (temp views dropped first — a fresh session),
# keeps writing, and returns the merged state; the oracle replays the
# row algebra declaratively.

_X21_ORACLE = """
WITH pre AS (
  SELECT c_custkey AS v,
         1000 + ROW_NUMBER() OVER (ORDER BY c_custkey) - 1 AS id
  FROM customer WHERE c_custkey % 4 = 0),
post AS (
  SELECT c_custkey AS v,
         (SELECT COUNT(*) FROM pre) + 1000
           + ROW_NUMBER() OVER (ORDER BY c_custkey) - 1 AS id
  FROM customer WHERE c_custkey % 4 = 1)
SELECT 'pre' AS leg, id, v FROM pre
UNION ALL
SELECT 'post' AS leg, id, v FROM post
UNION ALL
SELECT 'view' AS leg, CAST(NULL AS BIGINT) AS id,
       (SELECT CAST(SUM(v) AS BIGINT)
        FROM (SELECT v FROM pre UNION ALL SELECT v FROM post)) AS v
ORDER BY leg, id
"""


@query(
    "x21_restart_persistence", _X21_ORACLE,
    doc="engine reopen over the same table_dir: tables rediscovered, "
        "constraints/sequences/views restored from _catalog.json, "
        "sequences continue without id reuse, views stay late-binding",
)
def x21(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from otterbrix_spark.engine import Engine

    d = tempfile.mkdtemp(prefix="x21_persist_")
    e1 = Engine(spark, table_dir=d)
    e1.register_corpus(sf_dir)
    e1.sql("CREATE SEQUENCE x21_seq START 1000")
    e1.sql(
        "CREATE TABLE x21_t (id BIGINT DEFAULT nextval('x21_seq'), "
        "v BIGINT, CONSTRAINT x21_pos CHECK (v >= 0))"
    )
    e1.sql(
        "INSERT INTO x21_t (v) SELECT c_custkey FROM customer "
        "WHERE c_custkey % 4 = 0 ORDER BY c_custkey"
    )
    e1.sql("CREATE VIEW x21_v AS SELECT SUM(v) AS sv FROM x21_t")
    # a fresh session: the first engine's temp views are gone
    for v in ("x21_t", "x21_v"):
        spark.catalog.dropTempView(v)
    e2 = Engine(spark, table_dir=d)
    e2.register_corpus(sf_dir)
    e2.sql(
        "INSERT INTO x21_t (v) SELECT c_custkey FROM customer "
        "WHERE c_custkey % 4 = 1 ORDER BY c_custkey"
    )
    rows = e2.sql(
        "SELECT CASE WHEN v % 4 = 0 THEN 'pre' ELSE 'post' END AS leg, "
        "id, v FROM x21_t"
    )
    view = e2.sql(
        "SELECT 'view' AS leg, CAST(NULL AS BIGINT) AS id, sv AS v "
        "FROM x21_v"
    )
    return rows.unionByName(view).orderBy("leg", "id")


# --- x22: positioned DML (WHERE CURRENT OF) -----------------------------------
# PG's cursor-positioned UPDATE/DELETE — the row-at-a-time batch-job
# pattern (scan a cursor, mutate the row under it). Runs inside ONE
# transaction so every positioned mutation STAGES lazily and COMMIT
# materializes the table once (the honest cluster shape: per-row swaps
# would be O(rows x table)); among exact duplicates exactly one
# instance mutates. The oracle replays the per-row rule declaratively.

_X22_ORACLE = """
WITH base AS (
  SELECT c_custkey AS k,
         CAST(FLOOR(c_acctbal * 100.0) AS BIGINT) AS bal
  FROM customer),
first12 AS (SELECT k, bal FROM base ORDER BY k LIMIT 12),
rest AS (
  SELECT k, bal FROM base WHERE k NOT IN (SELECT k FROM first12)),
proc AS (
  SELECT k, bal * 2 AS bal FROM first12 WHERE bal >= 0 AND bal < 500000
  UNION ALL
  SELECT k, bal FROM first12 WHERE bal >= 500000)
SELECT k, bal FROM proc
UNION ALL
SELECT k, bal FROM rest
ORDER BY k
"""


@query(
    "x22_positioned_dml", _X22_ORACLE,
    doc="WHERE CURRENT OF: cursor-driven per-row UPDATE (double small "
        "balances) / DELETE (negative balances) staged in one txn, "
        "COMMIT materializes once",
)
def x22(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    eng.sql("DROP TABLE IF EXISTS x22_t")
    eng.sql("CREATE TABLE x22_t (k BIGINT, bal BIGINT)")
    eng.sql(
        "INSERT INTO x22_t SELECT c_custkey, "
        "CAST(FLOOR(c_acctbal * 100.0) AS BIGINT) FROM customer"
    )
    eng.sql("BEGIN")
    eng.sql("DECLARE x22c CURSOR FOR SELECT k, bal FROM x22_t ORDER BY k")
    for _ in range(12):
        row = eng.execute_sql("FETCH 1 FROM x22c").fetchall()
        if not row:
            break
        _, bal = row[0]
        if bal < 0:
            eng.sql("DELETE FROM x22_t WHERE CURRENT OF x22c")
        elif bal < 500000:
            eng.sql("UPDATE x22_t SET bal = bal * 2 WHERE CURRENT OF x22c")
    eng.sql("CLOSE x22c")
    eng.sql("COMMIT")
    return eng.sql("SELECT k, bal FROM x22_t ORDER BY k")


# --- x23: conditional upsert (ON CONFLICT DO UPDATE ... WHERE) ----------------
# PG's conditional upsert clause: a conflicting row updates ONLY when
# the WHERE (which may reference both the existing row and EXCLUDED)
# holds — otherwise the old row stays and the incoming row is dropped.
# Same distributed shape as the plain upsert (two arbiter-key hash
# joins + union, now with a condition split), replayed declaratively.

_X23_ORACLE = """
WITH base AS (
  SELECT c_custkey AS k,
         CAST(FLOOR(c_acctbal * 100.0) AS BIGINT) AS v
  FROM customer WHERE c_custkey % 2 = 0),
incoming AS (
  SELECT o_custkey AS k,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
           AS v
  FROM orders GROUP BY o_custkey),
merged AS (
  SELECT b.k,
         CASE WHEN i.k IS NOT NULL AND b.v < 100000 THEN i.v ELSE b.v END
           AS v
  FROM base b LEFT JOIN incoming i ON i.k = b.k
  UNION ALL
  SELECT i.k, i.v FROM incoming i
  WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.k = i.k))
SELECT k, v FROM merged ORDER BY k
"""


@query(
    "x23_conditional_upsert", _X23_ORACLE,
    doc="ON CONFLICT (k) DO UPDATE SET ... WHERE cond: conflicting rows "
        "update only when the condition holds (old row kept otherwise), "
        "fresh rows insert — the PG conditional-upsert clause",
)
def x23(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    eng.sql("DROP TABLE IF EXISTS x23_t")
    eng.sql("CREATE TABLE x23_t (k BIGINT UNIQUE, v BIGINT)")
    eng.sql(
        "INSERT INTO x23_t SELECT c_custkey, "
        "CAST(FLOOR(c_acctbal * 100.0) AS BIGINT) FROM customer "
        "WHERE c_custkey % 2 = 0"
    )
    eng.sql(
        "INSERT INTO x23_t "
        "SELECT o_custkey, CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) "
        "AS BIGINT)) AS BIGINT) FROM orders GROUP BY o_custkey "
        "ON CONFLICT (k) DO UPDATE SET v = EXCLUDED.v "
        "WHERE x23_t.v < 100000"
    )
    return eng.sql("SELECT k, v FROM x23_t ORDER BY k")


# --- x24: join-delete (DELETE FROM ... USING ...) -----------------------------
# PG's DELETE USING — target rows with at least one matching source row
# die (one semi-join + one anti-join, the delete-matched half of a
# lakehouse MERGE; multiple matches delete the row once). The gate
# deletes customers holding any URGENT order and returns the RETURNING
# leg + the surviving state; the oracle replays with EXISTS algebra.

_X24_ORACLE = """
WITH base AS (
  SELECT c_custkey AS k, c_mktsegment AS seg FROM customer),
urgent AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderpriority = '1-URGENT'),
gone AS (
  SELECT k, seg FROM base WHERE k IN (SELECT o_custkey FROM urgent)),
kept AS (
  SELECT k, seg FROM base WHERE k NOT IN (SELECT o_custkey FROM urgent))
SELECT 'gone' AS leg, k, seg FROM gone
UNION ALL
SELECT 'kept' AS leg, k, seg FROM kept WHERE k % 10 = 0
ORDER BY leg, k
"""


@query(
    "x24_delete_using", _X24_ORACLE,
    doc="DELETE FROM t USING src WHERE join-cond: semi-join doom set + "
        "anti-join survivors, RETURNING the deleted rows; multi-match "
        "deletes once",
)
def x24(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    eng.sql("DROP TABLE IF EXISTS x24_t")
    eng.sql("CREATE TABLE x24_t (k BIGINT, seg STRING)")
    eng.sql(
        "INSERT INTO x24_t SELECT c_custkey, c_mktsegment FROM customer"
    )
    gone = eng.sql(
        "DELETE FROM x24_t USING orders "
        "WHERE x24_t.k = orders.o_custkey "
        "AND orders.o_orderpriority = '1-URGENT' RETURNING k, seg"
    )
    kept = eng.sql("SELECT k, seg FROM x24_t WHERE k % 10 = 0")
    return (
        gone.select(F.lit("gone").alias("leg"), "k", "seg")
        .unionByName(kept.select(F.lit("kept").alias("leg"), "k", "seg"))
        .orderBy("leg", "k")
    )


# --- x25: declarative partitioning (PARTITION BY -> hive layout) --------------
# PG's PARTITION BY LIST/RANGE/HASH lowered to hive-style directory
# partitioning: INSERT lays data under col=value/ dirs, scans with a
# partition predicate PRUNE (PartitionFilters in the plan — asserted by
# tests/test_sql_dml.py), UPDATE/DELETE swaps rewrite with the same
# layout, and the declared column order + schema survive empty tables
# and engine reopen via the persisted metadata. The gate mutates two
# partitions and returns the per-partition rollup; the oracle replays
# the algebra.

_X25_ORACLE = """
WITH base AS (
  SELECT c_custkey AS k, c_mktsegment AS seg,
         CAST(FLOOR(c_acctbal * 100.0) AS BIGINT) AS v
  FROM customer),
after AS (
  SELECT k, seg,
         CASE WHEN seg = 'BUILDING' THEN v * 2 ELSE v END AS v
  FROM base WHERE NOT (seg = 'MACHINERY' AND v < 0))
SELECT seg, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS cents
FROM after GROUP BY seg ORDER BY seg
"""


@query(
    "x25_partitioned_table", _X25_ORACLE,
    doc="PARTITION BY (seg) managed table: hive-layout writes, pruned "
        "partition scans, partition-targeted UPDATE/DELETE via the same "
        "layout-preserving swap",
)
def x25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    eng.sql("DROP TABLE IF EXISTS x25_t")
    eng.sql(
        "CREATE TABLE x25_t (k BIGINT, seg STRING, v BIGINT) "
        "PARTITION BY LIST (seg)"
    )
    eng.sql(
        "INSERT INTO x25_t SELECT c_custkey, c_mktsegment, "
        "CAST(FLOOR(c_acctbal * 100.0) AS BIGINT) FROM customer"
    )
    eng.sql("UPDATE x25_t SET v = v * 2 WHERE seg = 'BUILDING'")
    eng.sql("DELETE FROM x25_t WHERE seg = 'MACHINERY' AND v < 0")
    return eng.sql(
        "SELECT seg, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(v) AS BIGINT) AS cents "
        "FROM x25_t GROUP BY seg ORDER BY seg"
    )


# --- x26: SCROLL cursor — the full PG direction set ---------------------------
# Reference cursor surface (cursor.hpp) + PG DECLARE SCROLL: the pinned,
# densely-numbered result serves FIRST/LAST/PRIOR/ABSOLUTE(+/-)/
# RELATIVE(+/-)/BACKWARD n/BACKWARD ALL — each FETCH a position-range
# filter job over the checkpointed frame (PG's tuplestore, distributed).
# The oracle replays every leg closed-form via ROW_NUMBER ranges.

_X26_ORACLE = """
WITH numbered AS (
  SELECT ROW_NUMBER() OVER (ORDER BY c_custkey) AS rn,
         c_custkey AS k, c_mktsegment AS seg
  FROM customer
), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer)
SELECT 'f1' AS leg, k, seg FROM numbered WHERE rn BETWEEN 1 AND 30
UNION ALL
SELECT 'f2', k, seg FROM numbered, tot WHERE rn BETWEEN n - 20 AND n - 1
UNION ALL
SELECT 'f3', k, seg FROM numbered, tot WHERE rn = n - 49
UNION ALL
SELECT 'f4', k, seg FROM numbered, tot WHERE rn = n - 74
UNION ALL
SELECT 'f5', k, seg FROM numbered WHERE rn BETWEEN 101 AND 140
UNION ALL
SELECT 'f6', k, seg FROM numbered WHERE rn BETWEEN 1 AND 139
ORDER BY leg, k
"""


@query(
    "x26_scroll_cursor", _X26_ORACLE,
    doc="SCROLL cursor walk: FETCH 30 / MOVE LAST / BACKWARD 20 / "
        "ABSOLUTE -50 / RELATIVE -25 / MOVE ABSOLUTE 100 / FORWARD 40 / "
        "BACKWARD ALL over an ordered customer scan — every leg "
        "hash-matched against the closed-form ROW_NUMBER oracle",
)
def x26(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    eng.sql("BEGIN")
    eng.sql(
        "DECLARE x26c SCROLL CURSOR FOR "
        "SELECT c_custkey AS k, c_mktsegment AS seg FROM customer "
        "ORDER BY c_custkey"
    )
    f1 = eng.sql("FETCH 30 FROM x26c")
    eng.sql("MOVE LAST FROM x26c")
    f2 = eng.sql("FETCH BACKWARD 20 FROM x26c")
    f3 = eng.sql("FETCH ABSOLUTE -50 FROM x26c")
    f4 = eng.sql("FETCH RELATIVE -25 FROM x26c")
    eng.sql("MOVE ABSOLUTE 100 FROM x26c")
    f5 = eng.sql("FETCH FORWARD 40 FROM x26c")
    f6 = eng.sql("FETCH BACKWARD ALL FROM x26c")
    eng.sql("CLOSE x26c")
    eng.sql("COMMIT")
    legs = [("f1", f1), ("f2", f2), ("f3", f3),
            ("f4", f4), ("f5", f5), ("f6", f6)]
    out = None
    for tag, df in legs:
        piece = df.select(F.lit(tag).alias("leg"), "k", "seg")
        out = piece if out is None else out.unionByName(piece)
    return out.orderBy("leg", "k")


# --- x27: GENERATED AS IDENTITY columns ----------------------------------------
# PG identity columns (ColumnDef identity; the modern replacement for
# serial): an implicit sequence backs the column, GENERATED ALWAYS
# refuses explicit values without OVERRIDING SYSTEM VALUE, and the
# per-row assignment is the engine's partition-offset renumbering (no
# global window). The oracle reconstructs every id closed-form from the
# INSERT order.

_X27_ORACLE = """
WITH src AS (
  SELECT c_custkey AS v,
         ROW_NUMBER() OVER (ORDER BY c_custkey) AS rn
  FROM customer WHERE c_custkey % 7 = 0)
SELECT CAST(99 + rn AS BIGINT) AS id, CAST(v AS BIGINT) AS v FROM src
UNION ALL SELECT 50, -1
UNION ALL
SELECT CAST(99 + (SELECT COUNT(*) FROM src) + 1 AS BIGINT), -2
ORDER BY id
"""


@query(
    "x27_identity_columns", _X27_ORACLE,
    doc="GENERATED ALWAYS AS IDENTITY: implicit sequence (START 100), "
        "bulk INSERT..SELECT id assignment in deterministic order, "
        "OVERRIDING SYSTEM VALUE for one explicit row, sequence "
        "unaffected by the override — ids reconstructed closed-form",
)
def x27(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    eng.sql("DROP TABLE IF EXISTS x27_t")
    eng.sql(
        "CREATE TABLE x27_t (id BIGINT GENERATED ALWAYS AS IDENTITY "
        "(START 100), v BIGINT)"
    )
    eng.sql(
        "INSERT INTO x27_t (v) SELECT c_custkey FROM customer "
        "WHERE c_custkey % 7 = 0 ORDER BY c_custkey"
    )
    eng.sql(
        "INSERT INTO x27_t (id, v) OVERRIDING SYSTEM VALUE VALUES (50, -1)"
    )
    eng.sql("INSERT INTO x27_t (v) VALUES (-2)")
    return eng.sql("SELECT id, v FROM x27_t ORDER BY id")


# --- x28: COMMENT ON + pg_description -------------------------------------------
# PG CommentStmt: COMMENT ON TABLE/COLUMN/VIEW/SEQUENCE ... IS
# 'text' | NULL, surfaced through pg_description joined by oid/attnum —
# the way psql \d+ and every schema-doc tool reads comments. The oracle
# replays the expected catalog rows closed-form (the x12/x13 system-view
# discipline).

_X28_ORACLE = """
SELECT * FROM (VALUES
  ('x28_t', CAST(0 AS INT), 'fact table'),
  ('x28_t', 2, 'value in cents'),
  ('x28_v', 0, 'reporting view')
) AS t(relname, objsubid, description)
ORDER BY relname, objsubid
"""


@query(
    "x28_comment_on", _X28_ORACLE,
    doc="COMMENT ON TABLE/COLUMN/VIEW + pg_description(objoid, objsubid,"
        " description) joined through pg_class/pg_attribute; IS NULL "
        "removes; oracle replays the expected rows closed-form",
)
def x28(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    eng.sql("DROP TABLE IF EXISTS x28_t")
    eng.sql("CREATE TABLE x28_t (k BIGINT, cents BIGINT)")
    eng.sql("CREATE OR REPLACE VIEW x28_v AS SELECT k FROM x28_t")
    eng.sql("COMMENT ON TABLE x28_t IS 'fact table'")
    eng.sql("COMMENT ON COLUMN x28_t.cents IS 'value in cents'")
    eng.sql("COMMENT ON COLUMN x28_t.k IS 'doomed'")
    eng.sql("COMMENT ON COLUMN x28_t.k IS NULL")  # removal
    eng.sql("COMMENT ON VIEW x28_v IS 'reporting view'")
    return eng.sql(
        "SELECT c.relname, d.objsubid, d.description "
        "FROM pg_description d JOIN pg_class c ON c.oid = d.objoid "
        "WHERE c.relname IN ('x28_t', 'x28_v') "
        "ORDER BY c.relname, d.objsubid"
    )


# --- x29: temporary tables -------------------------------------------------------
# PG CREATE [GLOBAL|LOCAL] TEMP[ORARY] TABLE with the full ON COMMIT
# set (PRESERVE ROWS default / DELETE ROWS / DROP). Session-scoped:
# a reopened engine over the same directory REMOVES the leftover temp
# directories (PG's orphaned-temp cleanup after a crashed backend)
# instead of rediscovering them. The oracle replays every leg
# closed-form from the corpus (the x26/x27 engine-gate discipline).

_X29_ORACLE = """
SELECT * FROM (VALUES
  ('t1_visible',
   (SELECT COUNT(*) FROM customer WHERE c_custkey % 11 = 0)),
  ('t2_after_delete_rows', CAST(0 AS BIGINT)),
  ('t3_ephemeral_in_txn', CAST(3 AS BIGINT)),
  ('t4_ephemeral_after_commit', CAST(0 AS BIGINT)),
  ('t5_reopen_scratch_gone', CAST(0 AS BIGINT)),
  ('t6_reopen_perm_alive', CAST(1 AS BIGINT))
) AS t(leg, n)
ORDER BY leg
"""


@query(
    "x29_temp_tables", _X29_ORACLE,
    doc="PG temporary tables: session visibility, ON COMMIT DELETE ROWS "
        "truncating at every COMMIT, ON COMMIT DROP dying with its "
        "creating transaction, and reopen cleanup (a new engine over "
        "the same directory removes leftover temp dirs, keeps permanent "
        "tables) — every leg replayed closed-form by the oracle",
)
def x29(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.catalog import Catalog
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)

    eng.sql("CREATE TEMP TABLE x29_scratch (k BIGINT)")
    eng.sql(
        "INSERT INTO x29_scratch SELECT c_custkey FROM customer "
        "WHERE c_custkey % 11 = 0"
    )
    n1 = eng.sql("SELECT COUNT(*) AS n FROM x29_scratch").collect()[0][0]

    eng.sql("CREATE TEMP TABLE x29_stage (v INT) ON COMMIT DELETE ROWS")
    eng.sql("BEGIN")
    eng.sql("INSERT INTO x29_stage VALUES (1), (2)")
    eng.sql("COMMIT")
    n2 = eng.sql("SELECT COUNT(*) AS n FROM x29_stage").collect()[0][0]

    eng.sql("BEGIN")
    eng.sql("CREATE TEMP TABLE x29_eph (q INT) ON COMMIT DROP")
    eng.sql("INSERT INTO x29_eph VALUES (1), (2), (3)")
    n3 = eng.sql("SELECT COUNT(*) AS n FROM x29_eph").collect()[0][0]
    eng.sql("COMMIT")
    n4 = 1 if "x29_eph" in eng.catalog.tables else 0

    eng.sql("CREATE TABLE x29_perm AS SELECT 42 AS v")
    # reopen over the same directory: temp dirs removed, permanent kept
    reopened = Catalog(spark, eng.catalog.base_dir)
    n5 = 1 if "x29_scratch" in reopened.tables else 0
    n6 = 1 if "x29_perm" in reopened.tables else 0

    rows = [
        ("t1_visible", int(n1)),
        ("t2_after_delete_rows", int(n2)),
        ("t3_ephemeral_in_txn", int(n3)),
        ("t4_ephemeral_after_commit", int(n4)),
        ("t5_reopen_scratch_gone", int(n5)),
        ("t6_reopen_perm_alive", int(n6)),
    ]
    return spark.createDataFrame(rows, "leg string, n long").orderBy("leg")


# --- x30: CREATE DOMAIN ------------------------------------------------------------
# PG CreateDomainStmt (the parser family the reference embeds —
# primnodes.h CoerceToDomain): a named scalar type carrying DEFAULT /
# NOT NULL / CHECK(VALUE ...) constraints, instantiated per column at
# CREATE TABLE and enforced by the same machinery as table CHECKs.
# DROP DOMAIN refuses while a live table column depends on it. The
# oracle replays the accepted rows and flags closed-form.

_X30_ORACLE = """
SELECT * FROM (VALUES
  (CAST(5 AS INT), 'anon', 'accepted'),
  (9, 'bob', 'accepted')
) AS t(id, who, leg)
UNION ALL
SELECT CAST(-1 AS INT), r, 'refused'
FROM (VALUES ('neg_check'), ('null_check'), ('len_check'),
             ('drop_in_use_refused')) AS r(r)
ORDER BY id, who
"""


@query(
    "x30_create_domain", _X30_ORACLE,
    doc="CREATE DOMAIN: base type + DEFAULT/NOT NULL/CHECK(VALUE) "
        "instantiated per column at CREATE TABLE; violating inserts "
        "refused; DROP DOMAIN refused while a column depends on it — "
        "legs replayed closed-form",
)
def x30(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.sql("CREATE DOMAIN x30_posint AS INT CHECK (VALUE > 0) NOT NULL")
    eng.sql(
        "CREATE DOMAIN x30_name AS TEXT DEFAULT 'anon' "
        "CHECK (length(VALUE) <= 8)"
    )
    eng.sql("CREATE TABLE x30_t (id x30_posint, who x30_name)")
    eng.sql("INSERT INTO x30_t (id) VALUES (5)")
    eng.sql("INSERT INTO x30_t (id, who) VALUES (9, 'bob')")
    flags = []
    for leg, stmt in (
        ("neg_check", "INSERT INTO x30_t (id, who) VALUES (-1, 'x')"),
        ("null_check", "INSERT INTO x30_t (id, who) VALUES (NULL, 'x')"),
        ("len_check", "INSERT INTO x30_t (id, who) VALUES (7, 'waytoolongname')"),
        ("drop_in_use_refused", "DROP DOMAIN x30_posint"),
    ):
        try:
            eng.sql(stmt)
        except Exception:
            flags.append((-1, leg, "refused"))
    accepted = eng.sql(
        "SELECT id, who, 'accepted' AS leg FROM x30_t"
    )
    refused = spark.createDataFrame(flags, "id int, who string, leg string")
    return accepted.unionByName(refused).orderBy("id", "who")


# --- x31: ALTER DOMAIN lifecycle ----------------------------------------------------
# PG AlterDomainStmt: ADD CONSTRAINT / SET NOT NULL validate every
# existing dependent column's rows FIRST (atomically across dependent
# tables), DROP CONSTRAINT / DROP NOT NULL remove the instantiated
# checks everywhere, SET DEFAULT re-points dependent columns that
# still carry the domain default. Legs replayed closed-form.

_X31_ORACLE = """
SELECT * FROM (VALUES
  ('t1_add_validates_existing_refused', CAST(1 AS BIGINT)),
  ('t2_add_after_cleanup_enforced', 1),
  ('t3_drop_constraint_reopens', 1),
  ('t4_set_default_repoints', 1),
  ('t5_new_table_gets_altered_def', 1)
) AS t(leg, ok)
ORDER BY leg
"""


@query(
    "x31_alter_domain", _X31_ORACLE,
    doc="ALTER DOMAIN lifecycle: ADD CONSTRAINT validates existing "
        "dependents atomically, DROP CONSTRAINT reopens them, SET "
        "DEFAULT re-points non-overridden dependent defaults, new "
        "tables instantiate the altered definition",
)
def x31(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.sql("CREATE DOMAIN x31_d AS INT")
    eng.sql("CREATE TABLE x31_a (v x31_d)")
    eng.sql("INSERT INTO x31_a VALUES (5), (50)")

    legs: list[tuple[str, int]] = []

    def leg(name: str, fn) -> None:
        try:
            legs.append((name, 1 if fn() else 0))
        except Exception:
            legs.append((name, 0))

    def t1():
        try:
            eng.sql("ALTER DOMAIN x31_d ADD CONSTRAINT small "
                    "CHECK (VALUE < 10)")
            return False  # must refuse: 50 violates
        except Exception:
            # and must leave NO instantiation behind
            eng.sql("INSERT INTO x31_a VALUES (60)")
            return True
    leg("t1_add_validates_existing_refused", t1)

    def t2():
        eng.sql("DELETE FROM x31_a WHERE v >= 10")
        eng.sql("ALTER DOMAIN x31_d ADD CONSTRAINT small CHECK (VALUE < 10)")
        try:
            eng.sql("INSERT INTO x31_a VALUES (99)")
            return False
        except Exception:
            return True
    leg("t2_add_after_cleanup_enforced", t2)

    def t3():
        eng.sql("ALTER DOMAIN x31_d DROP CONSTRAINT small")
        eng.sql("INSERT INTO x31_a VALUES (99)")
        return True
    leg("t3_drop_constraint_reopens", t3)

    def t4():
        eng.sql("CREATE DOMAIN x31_w AS TEXT DEFAULT 'a'")
        eng.sql("CREATE TABLE x31_b (w x31_w)")
        eng.sql("ALTER DOMAIN x31_w SET DEFAULT 'b'")
        eng.sql("INSERT INTO x31_b VALUES (DEFAULT)")
        return eng.sql("SELECT w FROM x31_b").collect()[0][0] == "b"
    leg("t4_set_default_repoints", t4)

    def t5():
        eng.sql("ALTER DOMAIN x31_d ADD CONSTRAINT tiny CHECK (VALUE < 200)")
        eng.sql("CREATE TABLE x31_c (v x31_d)")
        try:
            eng.sql("INSERT INTO x31_c VALUES (500)")
            return False
        except Exception:
            return True
    leg("t5_new_table_gets_altered_def", t5)

    return spark.createDataFrame(legs, "leg string, ok long").orderBy("leg")


# --- x32: enum lifecycle -------------------------------------------------------------
# PG AlterEnumStmt + dependency-checked DROP TYPE: ADD VALUE (with
# BEFORE/AFTER position and IF NOT EXISTS) rewrites every dependent
# column's label CHECK; RENAME VALUE additionally rewrites the STORED
# rows (PG enum cells are oids — a rename changes what every existing
# row reads back as); DROP TYPE refuses while a column depends on the
# enum. Legs replayed closed-form.

_X32_ORACLE = """
SELECT * FROM (VALUES
  ('t1_new_label_accepted', CAST(1 AS BIGINT)),
  ('t2_unknown_still_refused', 1),
  ('t3_rename_rewrote_rows', 2),
  ('t4_old_label_refused', 1),
  ('t5_drop_in_use_refused', 1)
) AS t(leg, ok)
ORDER BY leg
"""


@query(
    "x32_enum_lifecycle", _X32_ORACLE,
    doc="ALTER TYPE ADD VALUE / RENAME VALUE propagate to dependent "
        "label CHECKs and stored rows; DROP TYPE dependency-refused — "
        "legs replayed closed-form",
)
def x32(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.sql("CREATE TYPE x32_mood AS ENUM ('sad', 'happy')")
    eng.sql("CREATE TABLE x32_t (v x32_mood)")
    eng.sql("INSERT INTO x32_t VALUES ('sad'), ('sad'), ('happy')")

    legs: list[tuple[str, int]] = []

    eng.sql("ALTER TYPE x32_mood ADD VALUE 'ok'")
    eng.sql("INSERT INTO x32_t VALUES ('ok')")
    legs.append(("t1_new_label_accepted", 1))

    try:
        eng.sql("INSERT INTO x32_t VALUES ('angry')")
        legs.append(("t2_unknown_still_refused", 0))
    except Exception:
        legs.append(("t2_unknown_still_refused", 1))

    eng.sql("ALTER TYPE x32_mood RENAME VALUE 'sad' TO 'down'")
    n = eng.sql(
        "SELECT COUNT(*) FROM x32_t WHERE v = 'down'"
    ).collect()[0][0]
    legs.append(("t3_rename_rewrote_rows", int(n)))

    try:
        eng.sql("INSERT INTO x32_t VALUES ('sad')")
        legs.append(("t4_old_label_refused", 0))
    except Exception:
        legs.append(("t4_old_label_refused", 1))

    try:
        eng.sql("DROP TYPE x32_mood")
        legs.append(("t5_drop_in_use_refused", 0))
    except Exception:
        legs.append(("t5_drop_in_use_refused", 1))

    return spark.createDataFrame(legs, "leg string, ok long").orderBy("leg")


# --- x33: ::domain expression casts --------------------------------------------------
# PG CoerceToDomain in EXPRESSION position (primnodes.h CoerceToDomain;
# the reference embeds PG's cast grammar): ``expr::dom`` coerces to the
# domain's base type and enforces its CHECK / NOT NULL constraints at
# evaluation time, raising on a violating value. Closes the divergence
# documented at CREATE DOMAIN in rounds 11-12 (domains previously worked
# only as column types). Legs replayed closed-form.

_X33_ORACLE = """
SELECT * FROM (VALUES
  ('t1_literal_cast', CAST(5 AS BIGINT)),
  ('t2_expr_cast', 7),
  ('t3_violation_raises', 1),
  ('t4_null_passes_bare_check', 1),
  ('t5_notnull_refuses_null', 1),
  ('t6_insert_position', 9),
  ('t7_where_position', 1)
) AS t(leg, v)
ORDER BY leg
"""


@query(
    "x33_domain_expr_cast", _X33_ORACLE,
    doc="expr::domain in expression position: base-type coercion + "
        "CHECK/NOT NULL enforcement with raise-on-violation (PG "
        "CoerceToDomain); works in SELECT, INSERT and WHERE positions — "
        "legs replayed closed-form",
)
def x33(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.sql("CREATE DOMAIN x33_posint AS INT CHECK (VALUE > 0)")
    eng.sql("CREATE DOMAIN x33_req AS TEXT NOT NULL")

    legs: list[tuple[str, int]] = []

    v = eng.sql("SELECT 5::x33_posint AS a").collect()[0][0]
    legs.append(("t1_literal_cast", int(v)))

    v = eng.sql("SELECT (3 + 4)::x33_posint AS a").collect()[0][0]
    legs.append(("t2_expr_cast", int(v)))

    try:
        eng.sql("SELECT (-3)::x33_posint AS a").collect()
        legs.append(("t3_violation_raises", 0))
    except Exception:
        legs.append(("t3_violation_raises", 1))

    v = eng.sql("SELECT NULL::x33_posint AS a").collect()[0][0]
    legs.append(("t4_null_passes_bare_check", 1 if v is None else 0))

    try:
        eng.sql("SELECT NULL::x33_req AS a").collect()
        legs.append(("t5_notnull_refuses_null", 0))
    except Exception:
        legs.append(("t5_notnull_refuses_null", 1))

    eng.sql("CREATE TABLE x33_t (v INT)")
    eng.sql("INSERT INTO x33_t VALUES (9::x33_posint)")
    v = eng.sql("SELECT v FROM x33_t").collect()[0][0]
    legs.append(("t6_insert_position", int(v)))

    n = eng.sql(
        "SELECT COUNT(*) FROM x33_t WHERE v > 2::x33_posint"
    ).collect()[0][0]
    legs.append(("t7_where_position", int(n)))

    return spark.createDataFrame(legs, "leg string, v long").orderBy("leg")


# --- x34: stored generated columns -----------------------------------------
# PG GENERATED ALWAYS AS (expr) STORED (tablecmds.c ColumnDef generated
# 's'; values recomputed by ExecComputeStoredGenerated on every INSERT/
# UPDATE). Engine side: the generation expression is table metadata and
# a write-path recompute hook — one narrow projection over the written
# rows, no shuffle at any scale. Legs replayed closed-form.

_X34_ORACLE = """
SELECT * FROM (VALUES
  ('t1_insert_computes', 3),
  ('t2_update_recomputes', 101),
  ('t3_explicit_refused', 1),
  ('t4_default_kw_ok', 10),
  ('t5_set_generated_refused', 1),
  ('t6_add_column_backfill', 25),
  ('t7_txn_rollback_clean', 1),
  ('t8_rename_reanchors', 30)
) AS t(leg, v)
ORDER BY leg
"""


@query(
    "x34_generated_columns", _X34_ORACLE,
    doc="stored generated columns: GENERATED ALWAYS AS (expr) STORED "
        "with write-path recompute (INSERT/UPDATE/ON CONFLICT), "
        "explicit-write refusal, ALTER ADD backfill, txn rollback, "
        "rename re-anchoring — legs replayed closed-form",
)
def x34(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.sql(
        "CREATE TABLE x34_t (a INT, b INT, "
        "total INT GENERATED ALWAYS AS (a + b) STORED)"
    )
    legs: list[tuple[str, int]] = []

    eng.sql("INSERT INTO x34_t VALUES (1, 2)")
    v = eng.sql("SELECT total FROM x34_t").collect()[0][0]
    legs.append(("t1_insert_computes", int(v)))

    eng.sql("UPDATE x34_t SET b = 100 WHERE a = 1")
    v = eng.sql("SELECT total FROM x34_t").collect()[0][0]
    legs.append(("t2_update_recomputes", int(v)))

    try:
        eng.sql("INSERT INTO x34_t (a, b, total) VALUES (1, 1, 99)")
        legs.append(("t3_explicit_refused", 0))
    except Exception:
        legs.append(("t3_explicit_refused", 1))

    eng.sql("INSERT INTO x34_t (a, b, total) VALUES (5, 5, DEFAULT)")
    v = eng.sql(
        "SELECT total FROM x34_t WHERE a = 5"
    ).collect()[0][0]
    legs.append(("t4_default_kw_ok", int(v)))

    try:
        eng.sql("UPDATE x34_t SET total = 7")
        legs.append(("t5_set_generated_refused", 0))
    except Exception:
        legs.append(("t5_set_generated_refused", 1))

    eng.sql(
        "ALTER TABLE x34_t ADD COLUMN asq INT "
        "GENERATED ALWAYS AS (a * a) STORED"
    )
    v = eng.sql("SELECT asq FROM x34_t WHERE a = 5").collect()[0][0]
    legs.append(("t6_add_column_backfill", int(v)))

    eng.sql("BEGIN")
    eng.sql("INSERT INTO x34_t VALUES (7, 8)")
    eng.sql("ROLLBACK")
    n = eng.sql(
        "SELECT COUNT(*) FROM x34_t WHERE a = 7"
    ).collect()[0][0]
    legs.append(("t7_txn_rollback_clean", 1 if n == 0 else 0))

    eng.sql("ALTER TABLE x34_t RENAME COLUMN a TO alpha")
    eng.sql("INSERT INTO x34_t VALUES (10, 20)")
    v = eng.sql(
        "SELECT total FROM x34_t WHERE alpha = 10"
    ).collect()[0][0]
    legs.append(("t8_rename_reanchors", int(v)))

    return spark.createDataFrame(legs, "leg string, v long").orderBy("leg")


# --- x35: transaction state integrity --------------------------------------
# The r13 pass-2 review class: statement sequences where autocommit
# physical DDL meets the staged-txn model. Each leg replays a scenario
# that previously diverged (stale staged frames after in-txn DROP,
# savepoint-scoped ON COMMIT DROP, staged RESTART IDENTITY reseeds,
# cursor identity across ROLLBACK TO, holdable-cursor snapshot across a
# table swap) — closed-form, corpus-independent.

_X35_ORACLE = """
SELECT * FROM (VALUES
  ('t1_drop_recreate_commit', 9),
  ('t2_savepoint_scoped_temp_drop', 7),
  ('t3_reseed_rolls_back', 4),
  ('t4_redeclared_cursor_dies', 1),
  ('t5_holdable_snapshot', 6)
) AS t(leg, v)
ORDER BY leg
"""


@query(
    "x35_txn_state_integrity", _X35_ORACLE,
    doc="transaction state integrity: in-txn DROP purges staged frames; "
        "ON COMMIT DROP and RESTART IDENTITY are savepoint-scoped and "
        "staged; cursors die by identity on ROLLBACK TO; WITH HOLD "
        "cursors read a pinned snapshot across the table swap — legs "
        "replayed closed-form",
)
def x35(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    legs: list[tuple[str, int]] = []

    eng.sql("CREATE TABLE x35_t (a INT)")
    eng.sql("BEGIN")
    eng.sql("INSERT INTO x35_t VALUES (2)")
    eng.sql("DROP TABLE x35_t")
    eng.sql("CREATE TABLE x35_t (a INT)")
    eng.sql("INSERT INTO x35_t VALUES (9)")
    eng.sql("COMMIT")
    rows = [r[0] for r in eng.sql("SELECT a FROM x35_t").collect()]
    legs.append(("t1_drop_recreate_commit", rows[0] if len(rows) == 1 else -1))

    eng.sql("BEGIN")
    eng.sql("SAVEPOINT s")
    eng.sql("CREATE TEMP TABLE x35_tmp (a INT) ON COMMIT DROP")
    eng.sql("ROLLBACK TO s")
    eng.sql("CREATE TABLE x35_tmp (a INT)")
    eng.sql("INSERT INTO x35_tmp VALUES (7)")
    eng.sql("COMMIT")
    rows = [r[0] for r in eng.sql("SELECT a FROM x35_tmp").collect()]
    legs.append(("t2_savepoint_scoped_temp_drop",
                 rows[0] if len(rows) == 1 else -1))

    eng.sql(
        "CREATE TABLE x35_i (id INT GENERATED BY DEFAULT AS IDENTITY, "
        "v INT)"
    )
    eng.sql("INSERT INTO x35_i (v) VALUES (1), (2), (3)")
    eng.sql("BEGIN")
    eng.sql("TRUNCATE x35_i RESTART IDENTITY")
    eng.sql("ROLLBACK")
    eng.sql("INSERT INTO x35_i (v) VALUES (4)")
    mx = eng.sql("SELECT MAX(id) FROM x35_i").collect()[0][0]
    legs.append(("t3_reseed_rolls_back", int(mx)))

    eng.sql("BEGIN")
    eng.sql("DECLARE x35c CURSOR FOR SELECT a FROM x35_t")
    eng.sql("SAVEPOINT s2")
    eng.sql("CLOSE x35c")
    eng.sql("DECLARE x35c CURSOR FOR SELECT a FROM x35_t")
    eng.sql("ROLLBACK TO s2")
    try:
        eng.sql("FETCH NEXT FROM x35c")
        legs.append(("t4_redeclared_cursor_dies", 0))
    except Exception:
        legs.append(("t4_redeclared_cursor_dies", 1))
    eng.sql("ROLLBACK")

    eng.sql("CREATE TABLE x35_h (a INT)")
    eng.sql("INSERT INTO x35_h VALUES (1), (2), (3)")
    eng.sql("BEGIN")
    eng.sql(
        "DECLARE x35h CURSOR WITH HOLD FOR "
        "SELECT a FROM x35_h ORDER BY a"
    )
    eng.sql("UPDATE x35_h SET a = a * 100")
    eng.sql("COMMIT")
    got = sum(r[0] for r in eng.sql("FETCH ALL FROM x35h").collect())
    legs.append(("t5_holdable_snapshot", int(got)))

    return spark.createDataFrame(legs, "leg string, v long").orderBy("leg")
