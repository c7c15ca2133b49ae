"""Parity-detail queries: self-joins, HAVING on non-projected aggregates,
correlated NOT EXISTS with conditions, conditional DISTINCT counts, array
explode/re-aggregate, character-class text stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from otterbrix_spark.sources.registry import load_table
from otterbrix_spark.workload import query

# --- q53: HAVING on an aggregate that is not projected ----------------------

_Q53_ORACLE = """
SELECT c_nationkey, COUNT(*) AS n
FROM customer
GROUP BY c_nationkey
HAVING MAX(c_acctbal) > 9900 AND MIN(c_acctbal) < -500
"""


@query("q53_having_hidden_agg", _Q53_ORACLE, doc="HAVING over non-projected aggregates")
def q53(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("c_acctbal").alias("_mx"),
            F.min("c_acctbal").alias("_mn"),
        )
        .filter((F.col("_mx") > 9900) & (F.col("_mn") < -500))
        .select("c_nationkey", "n")
    )


# --- q54: correlated NOT EXISTS with extra predicate ------------------------
# Suppliers with no late bulk shipment (conditional anti-join). The
# round-9 form ("nothing shipped after 2001-06-01") was VACUOUS at
# sf≤0.01 — every supplier ships in the tail window. Retuned with a
# quantity arm: kept/total 1/10 at sf0.001, 20/100 at sf0.01, 138/1000
# at sf0.1 — non-empty kept AND removed sides at every SF.

_Q54_ORACLE = """
SELECT s_suppkey, s_name
FROM supplier
WHERE NOT EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_suppkey = s_suppkey AND l_shipdate > TIMESTAMP '2001-09-01'
    AND l_quantity >= 45.0
)
"""


@query("q54_not_exists_conditional", _Q54_ORACLE, doc="correlated NOT EXISTS + predicate")
def q54(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    late = li.filter(
        (F.col("l_shipdate") > F.lit("2001-09-01").cast("timestamp_ntz"))
        & (F.col("l_quantity") >= 45.0)
    ).select("l_suppkey")
    return supp.join(
        late, supp.s_suppkey == late.l_suppkey, "left_anti"
    ).select("s_suppkey", "s_name")


# --- q55: self-join (same customer, multiple same-day orders) ---------------

_Q55_ORACLE = """
SELECT a.o_custkey AS custkey, a.o_orderkey AS o1, b.o_orderkey AS o2,
       CAST(a.o_orderdate AS DATE) AS day
FROM orders a JOIN orders b
  ON a.o_custkey = b.o_custkey
 AND a.o_orderdate = b.o_orderdate
 AND a.o_orderkey < b.o_orderkey
"""


@query("q55_self_join", _Q55_ORACLE, doc="self-join with aliasing (same-day order pairs)")
def q55(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    a = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("o1"),
        F.col("o_orderdate").alias("d1"),
    )
    b = orders.select(
        F.col("o_custkey").alias("ck2"),
        F.col("o_orderkey").alias("o2"),
        F.col("o_orderdate").alias("d2"),
    )
    return (
        a.join(
            b,
            (F.col("custkey") == F.col("ck2"))
            & (F.col("d1") == F.col("d2"))
            & (F.col("o1") < F.col("o2")),
        )
        .select("custkey", "o1", "o2", F.col("d1").cast("date").alias("day"))
    )


# --- q56: conditional DISTINCT count ----------------------------------------

_Q56_ORACLE = """
SELECT l_returnflag,
       COUNT(DISTINCT CASE WHEN l_quantity > 25 THEN l_orderkey END)
         AS big_orders,
       COUNT(DISTINCT CASE WHEN l_discount > 0.05 THEN l_partkey END)
         AS discounted_parts
FROM lineitem GROUP BY l_returnflag
"""


@query("q56_conditional_distinct", _Q56_ORACLE, doc="COUNT(DISTINCT CASE WHEN ...)")
def q56(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct(
            F.when(F.col("l_quantity") > 25, F.col("l_orderkey"))
        ).alias("big_orders"),
        F.countDistinct(
            F.when(F.col("l_discount") > 0.05, F.col("l_partkey"))
        ).alias("discounted_parts"),
    )


# --- q57: split -> explode -> re-aggregate (array functions; extension) -----

_Q57_ORACLE = r"""
SELECT word, COUNT(*) AS n, COUNT(DISTINCT p_partkey) AS n_parts
FROM (SELECT p_partkey, UNNEST(regexp_split_to_array(p_name, '\s+')) AS word
      FROM part)
GROUP BY word
"""


@query("q57_explode_reaggregate", _Q57_ORACLE, doc="split/explode/re-aggregate (array fns)")
def q57(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.select("p_partkey", F.explode(F.split("p_name", r"\s+")).alias("word"))
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("p_partkey").alias("n_parts"),
        )
    )


# --- t06: character-class text statistics -----------------------------------

_T06_ORACLE = """
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[0-9]')) AS INT) AS n_digits,
       CAST(len(regexp_extract_all(text, '[A-Z]')) AS INT) AS n_upper,
       CAST(len(regexp_extract_all(text, '[aeiou]')) AS INT) AS n_vowels,
       CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS INT) AS n_special
FROM documents WHERE doc_id < 200
"""


@query("t06_charclass_stats", _T06_ORACLE, doc="character-class frequency stats")
def t06(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    def cnt(pat):
        return F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), 0))
    return docs.select(
        "doc_id",
        cnt("[0-9]").alias("n_digits"),
        cnt("[A-Z]").alias("n_upper"),
        cnt("[aeiou]").alias("n_vowels"),
        cnt("[^a-zA-Z0-9 ]").alias("n_special"),
    )


# --- q61: ordered string aggregation (string_agg / listagg) -----------------

_Q61_ORACLE = """
SELECT r_regionkey,
       string_agg(n_name, ',' ORDER BY n_name) AS nations
FROM region JOIN nation ON n_regionkey = r_regionkey
GROUP BY r_regionkey
"""


@query("q61_string_agg", _Q61_ORACLE, doc="ordered string_agg per group")
def q61(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    return (
        region.join(F.broadcast(nation), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_regionkey")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("n_name"))).alias("nations")
        )
    )


# --- j12: JSON object key enumeration ---------------------------------------

_J12_ORACLE = """
SELECT CAST(json_keys(props) AS VARCHAR) AS keys, COUNT(*) AS n
FROM events GROUP BY 1
"""


@query("j12_json_keys", _J12_ORACLE, doc="JSON object key enumeration")
def j12(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    keys = F.concat(
        F.lit("["), F.concat_ws(", ", F.json_object_keys("props")), F.lit("]")
    )
    return ev.groupBy(keys.alias("keys")).agg(F.count(F.lit(1)).alias("n"))


# --- q62: join on computed expression keys ----------------------------------

_Q62_ORACLE = """
SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month,
       COUNT(*) AS n_pairs
FROM orders o JOIN lineitem l
  ON DATE_TRUNC('month', o.o_orderdate) = DATE_TRUNC('month', l.l_shipdate)
 AND o.o_orderkey = l.l_orderkey
GROUP BY 1
"""


@query("q62_expression_join_key", _Q62_ORACLE, doc="join on computed (date-trunc) keys")
def q62(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    om = F.date_trunc("month", F.col("o_orderdate"))
    lm = F.date_trunc("month", F.col("l_shipdate"))
    return (
        orders.join(li, (om == lm) & (F.col("o_orderkey") == F.col("l_orderkey")))
        .groupBy(om.cast("date").alias("month"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# --- q63: safe-divide / NULLIF guard ----------------------------------------

_Q63_ORACLE = """
SELECT c_nationkey,
       COUNT(CASE WHEN c_acctbal > 5000 THEN 1 END) AS n_rich,
       COUNT(CASE WHEN c_acctbal < -500 THEN 1 END) AS n_debt,
       CAST(COUNT(CASE WHEN c_acctbal > 5000 THEN 1 END) AS DOUBLE)
         / NULLIF(COUNT(CASE WHEN c_acctbal < -500 THEN 1 END), 0)
         AS rich_per_debt
FROM customer GROUP BY c_nationkey
"""


@query("q63_safe_divide", _Q63_ORACLE, doc="NULLIF-guarded division (NULL on zero)")
def q63(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    rich = F.count(F.when(F.col("c_acctbal") > 5000, 1))
    debt = F.count(F.when(F.col("c_acctbal") < -500, 1))
    return cust.groupBy("c_nationkey").agg(
        rich.alias("n_rich"),
        debt.alias("n_debt"),
        (rich.cast("double") / F.nullif(debt, F.lit(0))).alias("rich_per_debt"),
    )


# --- q79: aggregate FILTER clause -------------------------------------------
# SQL:2003 `agg(...) FILTER (WHERE ...)` — PG supports it natively and the
# reference inherits it through the PG grammar; Spark SQL parses it since
# 3.0. Routed through the full engine surface (dialect rewrite must pass
# the clause untouched); conditional sums are quantised per the float
# discipline.

_Q79_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_all,
       CAST(COUNT(*) FILTER (WHERE value > 50.0) AS BIGINT) AS n_hot,
       CAST(SUM(CAST(FLOOR(value * 10000.0) AS BIGINT))
            FILTER (WHERE value > 50.0) AS DOUBLE) / 10000.0 AS hot_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@query(
    "q79_filter_clause", _Q79_ORACLE,
    doc="SQL:2003 aggregate FILTER (WHERE ...) clause through the engine",
)
def q79(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "otx_events_q79"
    )
    return eng.sql(
        "SELECT event_type, "
        "       CAST(COUNT(*) AS BIGINT) AS n_all, "
        "       CAST(COUNT(*) FILTER (WHERE value > 50.0) AS BIGINT) AS n_hot, "
        "       CAST(SUM(CAST(FLOOR(value * 10000.0) AS BIGINT)) "
        "            FILTER (WHERE value > 50.0) AS DOUBLE) / 10000.0 "
        "         AS hot_value "
        "FROM otx_events_q79 GROUP BY event_type ORDER BY event_type"
    )


# --- q80: LATERAL correlated subquery join ----------------------------------
# PG LATERAL (the reference's grammar carries it): per outer row, a
# correlated subquery producing a derived table — here top-2 customers by
# balance per nation. Spark supports lateral correlated subqueries since
# 3.2 and plans them as a ranked window under the hood; DuckDB runs the
# identical text.

_Q80_ORACLE = """
SELECT n.n_name, t.c_name, t.c_acctbal
FROM nation n,
     LATERAL (
       SELECT c_name, c_acctbal FROM customer c
       WHERE c.c_nationkey = n.n_nationkey
       ORDER BY c_acctbal DESC, c_name LIMIT 2
     ) t
ORDER BY n.n_name, t.c_acctbal DESC, t.c_name
"""


@query(
    "q80_lateral_topn", _Q80_ORACLE,
    doc="LATERAL correlated derived table (per-nation top-2 customers) "
        "through the engine",
)
def q80(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    load_table(spark, sf_dir, "nation").createOrReplaceTempView(
        "otx_nation_q80"
    )
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "otx_customer_q80"
    )
    return eng.sql(
        "SELECT n.n_name, t.c_name, t.c_acctbal "
        "FROM otx_nation_q80 n, "
        "     LATERAL ( "
        "       SELECT c_name, c_acctbal FROM otx_customer_q80 c "
        "       WHERE c.c_nationkey = n.n_nationkey "
        "       ORDER BY c_acctbal DESC, c_name LIMIT 2 "
        "     ) t "
        "ORDER BY n.n_name, t.c_acctbal DESC, t.c_name"
    )


# --- q81: PG DISTINCT ON ----------------------------------------------------
# `SELECT DISTINCT ON (k) ...` — the PG-ism for "first row per key under
# the query's ORDER BY". Spark has no direct form; the canonical lowering
# is a row_number window over (key, order) with rank = 1 — one shuffle on
# the key, identical to PG's semantics when the ORDER BY extends the
# DISTINCT ON keys. DuckDB runs the literal DISTINCT ON as oracle.

_Q81_ORACLE = """
SELECT user_id, event_id, ts_us
FROM (
  SELECT DISTINCT ON (user_id) user_id, event_id,
         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
  FROM events
  ORDER BY user_id, epoch_us(CAST(ts AS TIMESTAMP)) DESC, event_id DESC
) t ORDER BY user_id
"""


@query(
    "q81_distinct_on", _Q81_ORACLE,
    doc="PG DISTINCT ON (latest event per user) lowered to a ranked "
        "window; DuckDB runs the literal DISTINCT ON as oracle",
)
def q81(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    # order on epoch MICROSECONDS explicitly: the parquet stores nanos and
    # the oracle must not resolve sub-microsecond ties the Spark side
    # (micro-normalized ts) cannot see
    us = F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
    w = Window.partitionBy("user_id").orderBy(
        us.desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "event_id", us.alias("ts_us"))
        .orderBy("user_id")
    )


# --- q82: boolean + bitwise aggregate battery -------------------------------
# BOOL_AND / BOOL_OR (PG) and BIT_AND / BIT_OR / BIT_XOR — aggregate
# families the inventory had not yet gated. All integer/boolean exact:
# no float pathway exists, so the gate is trivially hash-stable.

_Q82_ORACLE = """
SELECT c_nationkey,
       BOOL_AND(c_acctbal > -1000) AS all_above_floor,
       BOOL_OR(c_acctbal > 9900) AS any_rich,
       CAST(BIT_AND(c_custkey) AS BIGINT) AS key_band,
       CAST(BIT_OR(c_custkey) AS BIGINT) AS key_bor,
       CAST(BIT_XOR(c_custkey) AS BIGINT) AS key_bxor
FROM customer
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


@query(
    "q82_bool_bit_aggs", _Q82_ORACLE,
    doc="BOOL_AND/BOOL_OR and BIT_AND/BIT_OR/BIT_XOR aggregate battery",
)
def q82(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_nationkey")
        .agg(
            F.bool_and(F.col("c_acctbal") > -1000).alias("all_above_floor"),
            F.bool_or(F.col("c_acctbal") > 9900).alias("any_rich"),
            F.bit_and("c_custkey").cast("long").alias("key_band"),
            F.bit_or("c_custkey").cast("long").alias("key_bor"),
            F.bit_xor("c_custkey").cast("long").alias("key_bxor"),
        )
        .orderBy("c_nationkey")
    )


# --- a02: EXACT interpolated percentiles ------------------------------------
# Spark `percentile` (the exact sort-based aggregate, not percentile_approx)
# against DuckDB `quantile_cont` — the §2.4 order-statistics parity gate
# that a01's rows-only approx-distinct cannot give. Determinism: the
# inputs are integer cents, and at probabilities {.25,.5,.75,.9} both
# engines interpolate lo + (hi-lo)*frac where frac has an exact binary
# representation and lo/hi are integers << 2^50 — every intermediate is
# exactly representable, so the doubles agree bit-for-bit regardless of
# each engine's association. At scale the exact percentile is a per-group
# sort of cents values — for hot groups the production path is
# percentile_approx; this gate pins the exact semantics.

_A02_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       quantile_cont(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT), 0.25) AS p25,
       quantile_cont(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT), 0.50) AS p50,
       quantile_cont(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT), 0.75) AS p75,
       quantile_cont(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT), 0.90) AS p90
FROM orders
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@query(
    "a02_exact_percentiles", _A02_ORACLE,
    doc="exact interpolated percentiles (.25/.5/.75/.9) over integer "
        "cents per group — Spark percentile vs DuckDB quantile_cont",
)
def a02(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100.0).cast("long")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.percentile(cents, F.lit(0.25)).alias("p25"),
            F.percentile(cents, F.lit(0.50)).alias("p50"),
            F.percentile(cents, F.lit(0.75)).alias("p75"),
            F.percentile(cents, F.lit(0.90)).alias("p90"),
        )
        .orderBy("o_orderpriority")
    )


# --- q83: GROUPING SETS with GROUPING() markers -----------------------------
# Explicit GROUPING SETS (not the rollup/cube shorthands ds04/ds06/ds21
# already gate) plus the GROUPING() super-aggregate markers that
# disambiguate "NULL because grouped out" from "NULL in the data" — the
# part of SQL:2003 grouping the shorthand gates leave uncovered. The
# marker bitmask is written explicitly (GROUPING(a)*2 + GROUPING(b)) on
# both engines so the semantics compared are the per-column flags.

_Q83_ORACLE = """
SELECT o_orderpriority, YEAR(o_orderdate) AS yr,
       GROUPING(o_orderpriority) * 2 + GROUPING(YEAR(o_orderdate)) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
         AS cents
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority, YEAR(o_orderdate)),
                        (o_orderpriority), (YEAR(o_orderdate)), ())
ORDER BY gid, o_orderpriority NULLS FIRST, yr NULLS FIRST
"""


@query(
    "q83_grouping_sets_markers", _Q83_ORACLE,
    doc="explicit GROUPING SETS with GROUPING() bitmask markers "
        "distinguishing grouped-out NULLs from data NULLs",
)
def q83(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("q83_orders")
    return spark.sql("""
        SELECT o_orderpriority, YEAR(o_orderdate) AS yr,
               GROUPING(o_orderpriority) * 2 + GROUPING(YEAR(o_orderdate))
                 AS gid,
               COUNT(*) AS n,
               SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS cents
        FROM q83_orders
        GROUP BY GROUPING SETS ((o_orderpriority, YEAR(o_orderdate)),
                                (o_orderpriority), (YEAR(o_orderdate)), ())
        ORDER BY gid, o_orderpriority NULLS FIRST, yr NULLS FIRST
    """)


# --- q85: UNPIVOT / stack (wide -> long) -------------------------------------
# The inverse of q50's PIVOT: a conditional-aggregate wide frame (revenue
# cents per order-priority x year column) unpivoted back to long form
# with Spark's native DataFrame.unpivot (SQL stack()). The oracle lowers
# the unpivot to the engine-agnostic UNION ALL form. NULL cells (a
# priority with no orders in a year) are KEPT, matching SQL UNPIVOT
# INCLUDE NULLS — both engines emit the row with a NULL measure.

_Q85_ORACLE = """
WITH wide AS (
  SELECT o_orderpriority,
         CAST(SUM(CASE WHEN YEAR(CAST(o_orderdate AS DATE)) = 1996
                       THEN CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) END)
              AS BIGINT) AS y1996,
         CAST(SUM(CASE WHEN YEAR(CAST(o_orderdate AS DATE)) = 1997
                       THEN CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) END)
              AS BIGINT) AS y1997,
         CAST(SUM(CASE WHEN YEAR(CAST(o_orderdate AS DATE)) = 1998
                       THEN CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) END)
              AS BIGINT) AS y1998
  FROM orders GROUP BY o_orderpriority)
SELECT o_orderpriority, 'y1996' AS yr, y1996 AS cents FROM wide
UNION ALL
SELECT o_orderpriority, 'y1997' AS yr, y1997 AS cents FROM wide
UNION ALL
SELECT o_orderpriority, 'y1998' AS yr, y1998 AS cents FROM wide
"""


@query(
    "q85_unpivot", _Q85_ORACLE,
    doc="UNPIVOT (DataFrame.unpivot / stack): wide conditional-aggregate "
        "frame back to long form, NULL cells kept",
)
def q85(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    yr = F.year(F.col("o_orderdate").cast("date"))
    cents = F.floor(F.col("o_totalprice") * 100.0).cast("long")
    wide = orders.groupBy("o_orderpriority").agg(
        *[
            F.sum(F.when(yr == y, cents)).cast("long").alias(f"y{y}")
            for y in (1996, 1997, 1998)
        ]
    )
    return wide.unpivot(
        ["o_orderpriority"], ["y1996", "y1997", "y1998"], "yr", "cents"
    )


# --- a03: ordered-set aggregates (WITHIN GROUP) ------------------------------
# PG's ordered-set aggregate surface — percentile_cont / percentile_disc
# / mode() WITHIN GROUP (ORDER BY ...) — runs NATIVELY in Spark SQL
# (4.x), so the statement goes through the engine to certify the dialect
# re-emits it untouched. Determinism: cents are exact BIGINTs;
# percentile_cont's lerp at f=0.5 multiplies by an exactly-representable
# 0.5; percentile_disc is the first value with cume_dist >= f (SQL
# standard, both engines) — Spark types its result DOUBLE even over
# BIGINT input, so the gate casts it back (exact: disc returns an
# actual input value < 2^53); mode() ties resolve to the FIRST value in the
# WITHIN GROUP order (PG semantics — verified on Spark 4.1), which the
# oracle replays as an explicit (freq DESC, value ASC) argmin so no
# engine-internal tie choice is trusted.

_A03_ORACLE = """
WITH base AS (
  SELECT l_returnflag AS g,
         CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT) AS c
  FROM lineitem),
st AS (
  SELECT g, c,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY c) - 1 AS rn,
         COUNT(*) OVER (PARTITION BY g) AS n,
         CUME_DIST() OVER (PARTITION BY g ORDER BY c) AS cd
  FROM base),
mc AS (
  SELECT g,
         MIN(CASE WHEN rn = CAST(FLOOR((n - 1) * 0.5) AS BIGINT) THEN c END) AS lo,
         MIN(CASE WHEN rn = CAST(CEIL((n - 1) * 0.5) AS BIGINT) THEN c END) AS hi,
         MIN((n - 1) * 0.5 - FLOOR((n - 1) * 0.5)) AS frac
  FROM st GROUP BY g),
pd AS (SELECT g, MIN(c) AS p90_disc FROM st WHERE cd >= 0.9 GROUP BY g),
freq AS (SELECT g, c, COUNT(*) AS f FROM base GROUP BY g, c),
md AS (
  SELECT g, c AS mode_cents FROM (
    SELECT g, c, ROW_NUMBER() OVER (PARTITION BY g ORDER BY f DESC, c) AS rn
    FROM freq) WHERE rn = 1)
SELECT mc.g,
       CAST(mc.lo AS DOUBLE) + CAST(mc.hi - mc.lo AS DOUBLE) * mc.frac
         AS med_cents,
       CAST(pd.p90_disc AS BIGINT) AS p90_disc,
       CAST(md.mode_cents AS BIGINT) AS mode_cents
FROM mc JOIN pd ON mc.g = pd.g JOIN md ON mc.g = md.g
"""


@query(
    "a03_ordered_set_aggs", _A03_ORACLE,
    doc="PG ordered-set aggregates: percentile_cont / percentile_disc / "
        "mode() WITHIN GROUP through the engine; oracle replays lerp, "
        "cume_dist threshold, and first-in-order mode explicitly",
)
def a03(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    return eng.sql(
        "SELECT l_returnflag AS g, "
        "percentile_cont(0.5) WITHIN GROUP (ORDER BY "
        "  CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT)) AS med_cents, "
        "CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY "
        "  CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT) "
        "  AS p90_disc, "
        "mode() WITHIN GROUP (ORDER BY "
        "  CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT)) AS mode_cents "
        "FROM lineitem GROUP BY l_returnflag"
    )


# --- o01: PG null-ordering defaults under ORDER BY ... LIMIT -----------------
# PG sorts NULLS LAST for ASC / NULLS FIRST for DESC (gram.y sortby
# defaults); Spark's defaults are the opposite. The gap is invisible to
# the order-insensitive oracle compare EXCEPT under LIMIT, where the
# null placement decides WHICH rows survive — so this gate materializes
# a top-k in both directions over a nullable key and set-compares. The
# ASC arm must return the 8 smallest non-null balances (nulls sort
# last); the DESC arm must return 8 NULL-balance rows (nulls sort
# first, custkey tiebreak). Under Spark's defaults both arms return
# entirely different row sets, so the gate pins the dialect's
# apply_pg_null_ordering pass (dialect.py), which appends PG's default
# to every sort item lacking an explicit NULLS spec.

# The engine side uses IMPLICIT defaults (that is what the gate pins);
# the oracle spells the PG placement EXPLICITLY because DuckDB's own
# default is NULLS LAST for BOTH directions (default_null_order) — not
# PG's direction-dependent rule.

_O01_SQL = """
WITH nb AS (
  SELECT c_custkey,
         CASE WHEN c_acctbal < 0.0 THEN NULL ELSE c_acctbal END AS bal
  FROM customer)
SELECT 'asc' AS dir, c_custkey, bal FROM (
  SELECT c_custkey, bal FROM nb ORDER BY bal, c_custkey LIMIT 8)
UNION ALL
SELECT 'desc' AS dir, c_custkey, bal FROM (
  SELECT c_custkey, bal FROM nb ORDER BY bal DESC, c_custkey LIMIT 8)
"""

_O01_ORACLE = """
WITH nb AS (
  SELECT c_custkey,
         CASE WHEN c_acctbal < 0.0 THEN NULL ELSE c_acctbal END AS bal
  FROM customer)
SELECT 'asc' AS dir, c_custkey, bal FROM (
  SELECT c_custkey, bal FROM nb
  ORDER BY bal NULLS LAST, c_custkey NULLS LAST LIMIT 8)
UNION ALL
SELECT 'desc' AS dir, c_custkey, bal FROM (
  SELECT c_custkey, bal FROM nb
  ORDER BY bal DESC NULLS FIRST, c_custkey NULLS LAST LIMIT 8)
"""


@query(
    "o01_order_by_nulls", _O01_ORACLE,
    doc="PG ORDER BY null-placement defaults (ASC->NULLS LAST, "
        "DESC->NULLS FIRST) pinned under LIMIT, where null placement "
        "decides which rows survive — both directions materialized and "
        "set-compared",
)
def o01(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    return eng.sql(_O01_SQL)


# --- q86: UNNEST WITH ORDINALITY ---------------------------------------------
# PG's ordinality-preserving unnest: a deterministic per-order array
# (line part keys in l_linenumber order) is exploded WITH its 1-based
# position, and the position must survive the round trip — the property
# that distinguishes posexplode from a bare explode (where Spark makes
# no order promise). Output: the ordinality-weighted key sum per order
# plus the first/last array elements by ordinality, which is non-trivially
# wrong under any element reordering.

_Q86_ORACLE = """
WITH arrs AS (
  SELECT l_orderkey,
         list(l_partkey ORDER BY l_linenumber, l_partkey) AS parts
  FROM lineitem GROUP BY l_orderkey),
u AS (
  SELECT l_orderkey, parts[CAST(ord AS INT)] AS part, ord
  FROM (SELECT l_orderkey, parts,
               UNNEST(range(1, len(parts) + 1)) AS ord
        FROM arrs))
SELECT l_orderkey,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(part * ord) AS BIGINT) AS wsum,
       CAST(MIN(CASE WHEN ord = 1 THEN part END) AS BIGINT) AS first_part
FROM u GROUP BY l_orderkey
"""


@query(
    "q86_with_ordinality", _Q86_ORACLE,
    doc="UNNEST WITH ORDINALITY (posexplode): 1-based positions survive "
        "the explode; ordinality-weighted checksum per order",
)
def q86(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    arrs = li.groupBy("l_orderkey").agg(
        F.expr(
            "transform("
            "  array_sort(collect_list(struct(l_linenumber, l_partkey))),"
            "  s -> s.l_partkey)"
        ).alias("parts")
    )
    u = arrs.select(
        "l_orderkey", F.posexplode("parts").alias("pos", "part")
    ).withColumn("ord", F.col("pos") + 1)
    return u.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("part") * F.col("ord")).cast("long").alias("wsum"),
        F.min(F.when(F.col("ord") == 1, F.col("part")))
        .cast("long")
        .alias("first_part"),
    )


# --- q87: QUALIFY clause (dialect lowering) -----------------------------------
# DuckDB/Snowflake-style QUALIFY is absent from Spark's grammar; the dialect
# layer lowers it structurally (dialect.py::_rewrite_qualify, both regex and
# ast modes): an alias-referencing QUALIFY becomes a subquery + WHERE, a
# QUALIFY holding a window call directly becomes a hidden boolean column
# (* EXCEPT(__otx_qualify)). This gate exercises BOTH shapes in one
# statement — inside a CTE (alias form) and over a grouped query (direct
# window over an aggregate) — and the oracle runs the SAME text natively
# on DuckDB, which has QUALIFY in its grammar.

_Q87_SQL = """
WITH top3 AS (
  SELECT o_custkey, o_orderkey,
         CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS cents,
         row_number() OVER (
           PARTITION BY o_custkey
           ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
  QUALIFY rn <= 3
)
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents) AS BIGINT) AS spend_cents
FROM top3
GROUP BY o_custkey
QUALIFY rank() OVER (ORDER BY SUM(cents) DESC, o_custkey) <= 50
"""


@query(
    "q87_qualify", _Q87_SQL,
    doc="QUALIFY clause lowering: alias form in a CTE + direct window-over-"
        "aggregate form after GROUP BY; oracle runs the identical text on "
        "DuckDB's native QUALIFY",
)
def q87(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    return eng.sql(_Q87_SQL)


# --- q88: named WINDOW clause --------------------------------------------------
# SQL:2003 <window clause>: one named spec shared by several window
# functions (`OVER w`). Native in BOTH engines (Spark SqlBase.g4
# windowClause; DuckDB window clause), so this is a passthrough parity
# gate — the dialect layer must leave it byte-identical. The window
# contribution is folded into integer-exact per-flag checksums so the
# compare stays small while any frame/order divergence still breaks it.
# The window ORDER must be a TOTAL order: (l_orderkey, l_linenumber)
# has duplicate pairs from sf0.01 up, and row_number()/lag() over tied
# peers are permutation-nondeterministic (the sf0.01 battery caught
# exactly that); (l_linenumber, l_partkey, l_suppkey) is unique within
# an order at every shipped SF.

_Q88_SQL = """
WITH w_rows AS (
  SELECT l_returnflag,
         SUM(CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT)) OVER w
           AS run_cents,
         row_number() OVER w AS rn,
         COALESCE(lag(l_partkey) OVER w, 0) AS prev_part
  FROM lineitem
  WINDOW w AS (PARTITION BY l_orderkey
               ORDER BY l_linenumber, l_partkey, l_suppkey)
)
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(run_cents) AS BIGINT) AS sum_run_cents,
       CAST(SUM(rn * prev_part) AS BIGINT) AS rn_prev_checksum
FROM w_rows
GROUP BY l_returnflag
"""


@query(
    "q88_named_window", _Q88_SQL,
    doc="named WINDOW clause shared by three window functions (OVER w); "
        "passthrough parity on both engines",
)
def q88(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    return eng.sql(_Q88_SQL)


# --- a04: statistical aggregates from exact integer moments -------------------
# corr / covar_samp / stddev / regr_slope computed the distributed-correct
# way: ONE pass accumulating six integer moments (n, Σx, Σy, Σxy, Σx², Σy²)
# that combine map-side and merge associatively — the same reason sketches
# (sk01/sk02) are mergeable. Calling each engine's native corr()/stddev()
# would NOT hash-match (Welford vs naive accumulation, partition-order-
# dependent float merges); deriving them from exact BIGINT moments with a
# bit-identical final double expression on both engines is deterministic:
# bigint→double conversion and each IEEE op round identically. x = whole
# quantity units, y = whole dollars, so every moment is an exact integer
# (Σy² stays under BIGINT range through sf1).

_A04_SQL = """
WITH m AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS nd,
         CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS DOUBLE) AS sx,
         CAST(SUM(CAST(FLOOR(l_extendedprice) AS BIGINT)) AS DOUBLE) AS sy,
         CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)
                * CAST(FLOOR(l_extendedprice) AS BIGINT)) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)
                * CAST(FLOOR(l_quantity) AS BIGINT)) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(FLOOR(l_extendedprice) AS BIGINT)
                * CAST(FLOOR(l_extendedprice) AS BIGINT)) AS DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(nd AS BIGINT) AS n,
       (nd * sxy - sx * sy) / (nd * (nd - 1.0)) AS covar_samp,
       SQRT((nd * sxx - sx * sx) / (nd * (nd - 1.0))) AS stddev_x,
       SQRT((nd * syy - sy * sy) / (nd * (nd - 1.0))) AS stddev_y,
       (nd * sxy - sx * sy)
         / (SQRT(nd * sxx - sx * sx) * SQRT(nd * syy - sy * sy)) AS corr_xy,
       (nd * sxy - sx * sy) / (nd * sxx - sx * sx) AS regr_slope
FROM m
"""


@query(
    "a04_stats_moments", _A04_SQL,
    doc="corr/covar_samp/stddev/regr_slope from exact integer moments — "
        "single-pass, map-side-combinable; identical IEEE expression on "
        "both engines makes the doubles bit-exact",
)
def a04(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    return eng.sql(_A04_SQL)


# --- r01: Relation API chain (entry point B) ---------------------------------
# The reference's second client contract — Python relation chaining
# (`relation_initialize.cpp:49-56`, integration python relation tests) —
# certified through the driver: a pandas dimension frame enters via
# from_df, joins the parquet fact relation, and the whole
# filter -> join -> group -> order -> limit chain runs as ONE lazy Spark
# plan (each Relation wraps a DataFrame; nothing materialises before the
# driver's collect). The oracle states the same pipeline declaratively.

_R01_ORACLE = """
SELECT n.label AS region_label, c_mktsegment AS seg,
       CAST(COUNT(*) AS BIGINT) AS n_cust,
       CAST(SUM(CAST(FLOOR(c_acctbal * 100.0) AS BIGINT)) AS BIGINT)
         AS bal_cents
FROM customer
JOIN (SELECT n_nationkey, 'N' || CAST(n_regionkey AS VARCHAR) AS label
      FROM nation) n
  ON c_nationkey = n.n_nationkey
WHERE c_acctbal > 0
GROUP BY 1, 2
ORDER BY n_cust DESC, region_label, seg
LIMIT 20
"""


@query(
    "r01_relation_chain", _R01_ORACLE,
    doc="Relation API (entry point B): from_df pandas dim -> join parquet "
        "fact -> group/order/limit as one lazy chain",
)
def r01(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.relation import Relation, from_df

    nat = load_table(spark, sf_dir, "nation")
    dim_pdf = nat.select("n_nationkey", "n_regionkey").toPandas()
    dim_pdf["label"] = "N" + dim_pdf["n_regionkey"].astype(str)
    dim = from_df(dim_pdf[["n_nationkey", "label"]], spark=spark)

    cust = Relation(load_table(spark, sf_dir, "customer"))
    chain = (
        cust.filter(F.col("c_acctbal") > 0)
        .join(dim, F.col("c_nationkey") == F.col("n_nationkey"))
        .group(
            [F.col("label").alias("region_label"), F.col("c_mktsegment")],
            {
                "n_cust": ("count", "c_custkey"),
                "bal_cents": F.sum(
                    F.floor(F.col("c_acctbal") * 100.0).cast("long")
                ),
            },
        )
        .order(F.col("n_cust").desc(), "region_label", "c_mktsegment")
        .limit(20)
    )
    return chain.df.select(
        "region_label",
        F.col("c_mktsegment").alias("seg"),
        F.col("n_cust").cast("long").alias("n_cust"),
        "bal_cents",
    )


# --- w07: time-interval RANGE frames -----------------------------------------
# The window-frame family's remaining member (w01 rows, w02 numeric
# range, w03 groups, w06 exclude): RANGE BETWEEN INTERVAL ... PRECEDING
# over a timestamp ORDER BY — the trailing-hour moving aggregate every
# monitoring query wants, native in both engines (no gaps-and-islands
# rewrite). RANGE frames include ORDER-BY peers, so equal timestamps
# contribute symmetrically on both engines; the checksum folds per-row
# frame counts into per-type sums, which any peer-handling or boundary
# divergence breaks.

_W07_SQL = """
WITH w AS (
  SELECT event_type,
         COUNT(*) OVER (
           PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
           RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
           AS n_hour,
         SUM(CAST(FLOOR(value * 10000.0) AS BIGINT)) OVER (
           PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
           RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
           AS v_hour
  FROM events)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(n_hour) AS BIGINT) AS sum_trailing_counts,
       CAST(SUM(v_hour) AS BIGINT) AS sum_trailing_values
FROM w GROUP BY event_type
"""


@query(
    "w07_interval_range_frame", _W07_SQL,
    doc="RANGE BETWEEN INTERVAL 1 HOUR PRECEDING over timestamp order — "
        "trailing-window moving aggregates, passthrough on both engines",
)
def w07(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    return eng.sql(_W07_SQL)


# --- q89: SIMILAR TO (PG SQL-regex) ------------------------------------------
# PG's third pattern operator: % and _ are wildcards, | + () [] keep
# regex meaning, and . ^ $ are LITERALS — lowered by the dialect
# (dialect._rewrite_similar_to) to an anchored RLIKE.
# DuckDB's own SIMILAR TO is plain-regex (verified: 'abc' SIMILAR TO
# 'a%' is FALSE there), so the oracle states the CONVERTED anchored
# regex explicitly — pinning the documented conversion, not echoing it.

_Q89_ORACLE = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(c_acctbal * 100.0) AS BIGINT)) AS BIGINT)
         AS bal_cents
FROM customer
WHERE regexp_matches(c_name, '^(?:Customer#.*[13579])$')
  AND NOT regexp_matches(c_mktsegment, '^(?:(AUTO|BUILD).*)$')
GROUP BY c_mktsegment
"""


@query(
    "q89_similar_to", _Q89_ORACLE,
    doc="[NOT] SIMILAR TO lowering: SQL-regex wildcards + bracket class "
        "+ alternation, anchored RLIKE on Spark, conversion pinned by an "
        "explicit-regex oracle",
)
def q89(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    return eng.sql(
        "SELECT c_mktsegment, "
        "       CAST(COUNT(*) AS BIGINT) AS n, "
        "       CAST(SUM(CAST(FLOOR(c_acctbal * 100.0) AS BIGINT)) AS BIGINT)"
        "         AS bal_cents "
        "FROM customer "
        "WHERE c_name SIMILAR TO 'Customer#%[13579]' "
        "  AND c_mktsegment NOT SIMILAR TO '(AUTO|BUILD)%' "
        "GROUP BY c_mktsegment"
    )


# --- a05: arg_max / arg_min aggregates --------------------------------------
# PG's DISTINCT ON and DuckDB's arg_max/arg_min answer the same question
# ("the row that attains the group's extreme") — Spark's native spelling
# is max_by/min_by. Determinism requires a UNIQUE ordering key, so the
# gate composes one arithmetically: cents * 1e8 + custkey (a documented
# tie-break, the same discipline as the t12 mode tie-break). max_by is
# map-side combinable — at scale this is ONE aggregate shuffle, not a
# row_number window over the whole table.

_A05_ORACLE = """
WITH c AS (
  SELECT c_mktsegment, c_name,
         CAST(FLOOR(c_acctbal * 100.0) AS BIGINT) * 100000000 + c_custkey
           AS ord,
         CAST(FLOOR(c_acctbal * 100.0) AS BIGINT) AS cents
  FROM customer)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n,
       arg_max(c_name, ord) AS richest,
       arg_min(c_name, ord) AS poorest,
       CAST(MAX(cents) AS BIGINT) AS max_cents,
       CAST(MIN(cents) AS BIGINT) AS min_cents
FROM c GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


@query(
    "a05_arg_extremes", _A05_ORACLE,
    doc="max_by/min_by vs arg_max/arg_min: group-extreme row extraction "
        "as ONE map-side-combinable aggregate (no row_number window), "
        "unique arithmetic ordering key pins determinism",
)
def a05(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    c = cust.select(
        "c_mktsegment", "c_name",
        (F.floor(F.col("c_acctbal") * 100.0).cast("long") * 100000000
         + F.col("c_custkey")).alias("ord"),
        F.floor(F.col("c_acctbal") * 100.0).cast("long").alias("cents"),
    )
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max_by("c_name", "ord").alias("richest"),
            F.min_by("c_name", "ord").alias("poorest"),
            F.max("cents").alias("max_cents"),
            F.min("cents").alias("min_cents"),
        )
        .orderBy("c_mktsegment")
    )


# --- q90: GROUP BY ALL / ORDER BY ALL ---------------------------------------
# The analyst-shorthand clauses both engines now support NATIVELY (Spark
# 3.4+, DuckDB): every non-aggregate select item becomes a grouping key,
# and the result orders by all output columns left-to-right. The gate
# runs the IDENTICAL text through the engine facade and DuckDB — the
# hash match certifies the dialect layer passes the clauses through
# rather than mangling them, and that both engines resolve ALL to the
# same key set.

_Q90_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT)
         AS price_cents
FROM lineitem
WHERE l_quantity < 10
GROUP BY ALL
ORDER BY ALL
"""


@query(
    "q90_group_order_by_all", _Q90_SQL,
    doc="GROUP BY ALL + ORDER BY ALL: identical text on both engines; "
        "certifies dialect passthrough and matching ALL-resolution",
)
def q90(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    return eng.sql(_Q90_SQL)


# --- q91: array higher-order functions --------------------------------------
# The lambda family (transform / filter / aggregate / exists) is how
# Spark keeps per-row array work inside codegen instead of exploding;
# DuckDB's list_* functions are the same surface. The oracle deliberately
# recomputes the same quantities RELATIONALLY (UNNEST + aggregate) so the
# match certifies the lambdas' VALUES, not merely that both engines share
# a function name.

_Q91_ORACLE = """
WITH w AS (
  SELECT doc_id, regexp_extract_all(text, '[^ ]+') AS ws FROM documents),
x AS (SELECT doc_id, UNNEST(ws) AS word FROM w),
agg AS (
  SELECT doc_id,
         COUNT(*) AS n_words,
         SUM(CASE WHEN length(word) > 3 THEN 1 ELSE 0 END) AS n_long,
         SUM(CASE WHEN length(word) > 3 THEN length(word) ELSE 0 END)
           AS long_chars,
         MAX(length(word)) AS max_len,
         BOOL_OR(word = 'the') AS has_the
  FROM x GROUP BY doc_id)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_long AS BIGINT) AS n_long,
       CAST(long_chars AS BIGINT) AS long_chars,
       CAST(max_len AS BIGINT) AS max_len,
       has_the
FROM agg ORDER BY doc_id
"""


@query(
    "q91_array_lambdas", _Q91_ORACLE,
    doc="array higher-order functions (transform/filter/aggregate/exists) "
        "vs a relational UNNEST oracle: per-row array work stays in "
        "codegen, values certified not just names",
)
def q91(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id",
        F.regexp_extract_all(F.col("text"), F.lit("[^ ]+"), 0).alias("ws"),
    ).filter(F.size("ws") > 0)
    return (
        w.select(
            "doc_id",
            F.size("ws").cast("long").alias("n_words"),
            F.expr("CAST(size(filter(ws, x -> length(x) > 3)) AS BIGINT)")
            .alias("n_long"),
            F.expr(
                "aggregate(filter(ws, x -> length(x) > 3), "
                "CAST(0 AS BIGINT), (acc, x) -> acc + length(x))"
            ).alias("long_chars"),
            F.expr(
                "CAST(array_max(transform(ws, x -> length(x))) AS BIGINT)"
            ).alias("max_len"),
            F.expr("exists(ws, x -> x = 'the')").alias("has_the"),
        )
        .orderBy("doc_id")
    )


# --- q92: FETCH FIRST ... WITH TIES ------------------------------------------
# The SQL-standard top-n clause PG ships and Spark's grammar lacks
# entirely; the dialect layer lowers ONLY-form to LIMIT/OFFSET and
# WITH TIES through the standard RANK() equivalence + the existing
# QUALIFY pass (dialect.py::_rewrite_fetch).
# DuckDB doesn't parse WITH TIES either, so the oracle states the
# RANK() equivalence explicitly — pinning the documented lowering.
# The tie band (o_orderkey % 50) makes the peers-of-the-nth-row
# semantics bite: LIMIT 55 would cut a band mid-way, WITH TIES must
# extend to the full band.

_Q92_ORACLE = """
SELECT band, o_orderkey, o_orderpriority FROM (
  SELECT o_orderkey % 50 AS band, o_orderkey, o_orderpriority,
         RANK() OVER (ORDER BY o_orderkey % 50) AS r
  FROM orders)
WHERE r <= 55
ORDER BY band, o_orderkey
"""


@query(
    "q92_fetch_with_ties", _Q92_ORACLE,
    doc="FETCH FIRST n ROWS WITH TIES: dialect lowering via the RANK() "
        "equivalence + QUALIFY pass, band ties force the peers-extension "
        "semantics",
)
def q92(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    return eng.sql(
        "SELECT o_orderkey % 50 AS band, o_orderkey, o_orderpriority "
        "FROM orders "
        "ORDER BY o_orderkey % 50 "
        "FETCH FIRST 55 ROWS WITH TIES"
    )


# --- q93: ordered aggregates (PG inline ORDER BY) ---------------------------
# PG's `agg(x [, sep] ORDER BY keys)` syntax, which Spark's grammar
# rejects at parse time. The dialect lowers
# (dialect.py::_rewrite_ordered_agg): string_agg -> the SQL-standard
# listagg ... WITHIN GROUP Spark 4 parses natively; array_agg ->
# sort_array(collect_list/-set) when ordered by itself, and the
# struct-sort transform for foreign sort keys. Arrays are serialized to
# strings in BOTH engines so the certified artifact is the exact element
# ORDER, not a container type's hash. DuckDB runs its native inline
# ORDER BY forms.

_Q93_ORACLE = """
SELECT c_mktsegment,
       string_agg(c_name, '|' ORDER BY c_name DESC) AS names_desc,
       array_to_string(list(c_custkey ORDER BY c_acctbal, c_custkey), ',')
         AS keys_by_bal,
       array_to_string(list(DISTINCT c_nationkey ORDER BY c_nationkey), ',')
         AS nations
FROM customer WHERE c_custkey % 10 = 0
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


@query(
    "q93_ordered_aggs", _Q93_ORACLE,
    doc="PG inline ORDER BY in aggregates: string_agg -> listagg WITHIN "
        "GROUP, array_agg -> sort_array / struct-sort transform; "
        "element order certified via string serialization",
)
def q93(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    return eng.sql(
        "SELECT c_mktsegment, "
        "  string_agg(c_name, '|' ORDER BY c_name DESC) AS names_desc, "
        "  concat_ws(',', array_agg(c_custkey ORDER BY c_acctbal, "
        "                           c_custkey)) AS keys_by_bal, "
        "  concat_ws(',', array_agg(DISTINCT c_nationkey "
        "                           ORDER BY c_nationkey)) AS nations "
        "FROM customer WHERE c_custkey % 10 = 0 "
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"
    )


# --- q94: generate_series set-returning function ----------------------------
# The PG table function every spine/series query starts from; Spark has
# sequence() + explode but no FROM-position function of that name. The
# dialect lowers table-position calls (FROM / comma-FROM / JOIN) to a
# derived table and select-list calls to a bare explode.
# Shape below is the comma-FROM cross join against a fact table — each
# order tested against every divisor — which also re-certifies the
# comma-FROM -> join tree path (q35) through a rewritten relation.

_Q94_ORACLE = """
SELECT d.n,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
         AS cents
FROM orders o, generate_series(2, 6) AS d(n)
WHERE o.o_orderkey % d.n = 0
GROUP BY d.n ORDER BY d.n
"""


@query(
    "q94_generate_series", _Q94_ORACLE,
    doc="generate_series lowered to explode(sequence(...)): FROM-position "
        "derived table through the comma-join path, identical text on "
        "DuckDB",
)
def q94(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    return eng.sql(
        "SELECT d.n, "
        "       CAST(COUNT(*) AS BIGINT) AS n_orders, "
        "       CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) "
        "            AS BIGINT) AS cents "
        "FROM orders o, generate_series(2, 6) AS d(n) "
        "WHERE o.o_orderkey % d.n = 0 "
        "GROUP BY d.n ORDER BY d.n"
    )


# --- q95: UNPIVOT (wide -> long reshaping) ----------------------------------
# The inverse of q50's PIVOT: melt a wide per-flag aggregate (three
# metric columns) into tidy (key, metric, value) rows. Spark's native
# DataFrame.unpivot is a zero-shuffle local expand (each input row
# emits k rows in place — no exchange in the plan), which is exactly
# how the engine should reshape at 100 TB; the oracle uses DuckDB's
# SQL-standard UNPIVOT clause. Metric values are quantized BIGINTs so
# the long-format value column has one exact type on both engines.

_Q95_ORACLE = """
WITH wide AS (
  SELECT l_returnflag,
         CAST(SUM(CAST(FLOOR(l_quantity * 100) AS BIGINT)) AS BIGINT)
           AS qty_cents,
         CAST(SUM(CAST(FLOOR(l_discount * 100) AS BIGINT)) AS BIGINT)
           AS disc_cents,
         CAST(COUNT(*) AS BIGINT) AS n_items
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag, metric, v
FROM wide UNPIVOT (v FOR metric IN (qty_cents, disc_cents, n_items))
ORDER BY l_returnflag, metric
"""


@query(
    "q95_unpivot", _Q95_ORACLE,
    doc="UNPIVOT: wide per-flag aggregate melted to (key, metric, value) "
        "via Spark's native unpivot (local expand, no shuffle) vs "
        "DuckDB's SQL-standard UNPIVOT clause",
)
def q95(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(F.floor(F.col("l_quantity") * 100).cast("long"))
        .cast("long")
        .alias("qty_cents"),
        F.sum(F.floor(F.col("l_discount") * 100).cast("long"))
        .cast("long")
        .alias("disc_cents"),
        F.count(F.lit(1)).alias("n_items"),
    )
    return wide.unpivot(
        ["l_returnflag"],
        ["qty_cents", "disc_cents", "n_items"],
        "metric",
        "v",
    ).orderBy("l_returnflag", "metric")


# --- q96: posexplode / UNNEST WITH ORDINALITY parity -------------------------
# PG/SQL-standard UNNEST ... WITH ORDINALITY gives each array element
# its 1-based position — the ordinal is load-bearing (token position,
# ranked prefs) so the parity must pin the NUMBERING, not just the set
# of elements. Spark's native form is posexplode (0-based, +1 here);
# the oracle indexes the array with generate_series(1, len(a)) —
# DuckDB's 1-based subscript — so both engines derive the ordinal
# independently (scalar generate_series list + parallel unnest
# positional zip). Ordinals are
# certified by value: the gate emits (doc_id, ord, token, token_len)
# per element over the first 6 whitespace tokens of a deterministic
# doc slice. Lateral explode keeps this embarrassingly parallel — no
# shuffle until the final ORDER BY.

_Q96_ORACLE = """
WITH d AS (
  SELECT doc_id,
         list_slice(string_split_regex(trim(text), '\\s+'), 1, 6) AS a
  FROM documents WHERE doc_id % 37 = 0),
u AS (
  SELECT doc_id,
         unnest(generate_series(1, len(a))) AS ord,
         unnest(a) AS token
  FROM d)
SELECT doc_id, CAST(ord AS BIGINT) AS ord, token,
       CAST(length(token) AS BIGINT) AS token_len
FROM u
ORDER BY doc_id, ord
"""


@query(
    "q96_posexplode_ordinality", _Q96_ORACLE,
    doc="UNNEST WITH ORDINALITY parity: Spark posexplode (0-based, +1) "
        "vs DuckDB 1-based array subscripts via generate_series — the "
        "ordinal NUMBERING is hash-pinned per element, lateral explode "
        "with no pre-ORDER shuffle",
)
def q96(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 37 == 0
    )
    d = docs.select(
        "doc_id",
        F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 6).alias("a"),
    )
    u = d.select("doc_id", F.posexplode("a").alias("pos", "token"))
    return u.select(
        "doc_id",
        (F.col("pos") + 1).cast("long").alias("ord"),
        "token",
        F.length("token").cast("long").alias("token_len"),
    ).orderBy("doc_id", "ord")


# --- q97: EXTRACT(EPOCH) / EXTRACT(ISODOW) dialect lowering ------------------
# Two PG EXTRACT fields Spark refuses outright ("Cannot extract `epoch`
# ..."): EPOCH (seconds since 1970 incl. microsecond fraction — the
# single most common PG time-to-number idiom) and ISODOW (Mon=1..Sun=7;
# Spark's dayofweek is Sun=1). The dialect lowers both
# (dialect.py::_rewrite_extract_pg): epoch = unix_micros / 1000000.0
# (µs < 2^53, division order-pinned so the oracle replaying the same
# two ops is bit-identical), isodow = pmod(dayofweek+5, 7)+1. The gate
# groups the event stream by ISO weekday and sums floored epoch
# seconds — both lowered fields load-bearing in one statement.

_Q97_ORACLE = """
SELECT CAST(extract(isodow FROM CAST(ts AS TIMESTAMP)) AS BIGINT)
         AS isodow,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(epoch_us(CAST(ts AS TIMESTAMP)) / 1000000.0)
                AS BIGINT)) AS BIGINT) AS epoch_sum
FROM events GROUP BY 1 ORDER BY isodow
"""


@query(
    "q97_extract_epoch_isodow", _Q97_ORACLE,
    doc="PG EXTRACT(EPOCH)/EXTRACT(ISODOW) dialect lowering: "
        "ISO-weekday histogram with floored epoch-second sums "
        "vs DuckDB's native extract fields",
)
def q97(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "otx_events_q97"
    )
    return eng.sql(
        "SELECT CAST(EXTRACT(ISODOW FROM CAST(ts AS TIMESTAMP)) AS BIGINT) "
        "         AS isodow, "
        "       CAST(COUNT(*) AS BIGINT) AS n, "
        "       CAST(SUM(CAST(FLOOR(EXTRACT(EPOCH FROM CAST(ts AS TIMESTAMP)))"
        "                AS BIGINT)) AS BIGINT) AS epoch_sum "
        "FROM otx_events_q97 GROUP BY 1 ORDER BY isodow"
    )


# --- q98: SQL-standard OVERLAPS predicate ------------------------------------
# (s1, e1) OVERLAPS (s2, e2) — the PG/SQL-standard period-intersection
# predicate Spark's parser rejects. The dialect expands it to the full
# definitional CASE (half-open intervals, endpoint swap, zero-length
# period = instant — PG's documented edge table)
# (dialect.py::_rewrite_overlaps). The gate exercises the period form
# in WHERE and the instant form in a conditional aggregate; the oracle
# derives both predicates independently from the half-open definition,
# so the hash certifies the semantics, not the rewrite's text.

_Q98_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_period,
       CAST(SUM(CASE WHEN o_orderdate >= DATE '1995-03-01'
                      AND o_orderdate <  DATE '1995-04-01'
                THEN 1 ELSE 0 END) AS BIGINT) AS n_instant
FROM orders
WHERE o_orderdate < DATE '1995-03-10'
  AND DATE '1995-03-01' < o_orderdate + INTERVAL 20 DAY
"""


@query(
    "q98_overlaps_predicate", _Q98_ORACLE,
    doc="SQL-standard (s,e) OVERLAPS (s,e) lowered to the definitional "
        "half-open CASE — period form in WHERE, "
        "instant form in a conditional aggregate, oracle derived "
        "independently from the definition",
)
def q98(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "otx_orders_q98"
    )
    return eng.sql(
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_period, "
        "       CAST(SUM(CASE WHEN (o_orderdate, o_orderdate) OVERLAPS "
        "                          (DATE '1995-03-01', DATE '1995-04-01') "
        "                THEN 1 ELSE 0 END) AS BIGINT) AS n_instant "
        "FROM otx_orders_q98 "
        "WHERE (o_orderdate, o_orderdate + INTERVAL '20' DAY) OVERLAPS "
        "      (DATE '1995-03-01', DATE '1995-03-10')"
    )


# --- a06: boolean aggregates (PG bool_and / bool_or / every) -----------------
# PG's boolean aggregate family — bool_and, bool_or, and the SQL-standard
# spelling every() — over grouped predicates, plus the conditional
# "count of groups where the flag holds" composition on top. Spark 3.0+
# ships the same names natively; the gate pins NULL handling (predicate
# rows with NULL acctbal are skipped by the aggregate, not treated as
# false) by routing one aggregate over a NULLIF-ed predicate.

_A06_ORACLE = """
SELECT c_nationkey,
       bool_and(c_acctbal > -999.0) AS all_above_floor,
       bool_or(c_acctbal > 9900.0) AS any_near_cap,
       bool_and(NULLIF(c_acctbal > 0.0, c_acctbal = 0.0)) AS all_pos_skipnull,
       CAST(COUNT(*) AS BIGINT) AS n
FROM customer
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


@query(
    "a06_bool_aggs", _A06_ORACLE,
    doc="PG boolean aggregates bool_and/bool_or (+ NULL-skipping "
        "semantics via a NULLIF-ed predicate) — native on both engines, "
        "one map-side-combinable groupBy",
)
def a06(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    return (
        cust.groupBy("c_nationkey")
        .agg(
            F.bool_and(bal > -999.0).alias("all_above_floor"),
            F.bool_or(bal > 9900.0).alias("any_near_cap"),
            F.bool_and(
                F.nullif(bal > 0.0, bal == 0.0)
            ).alias("all_pos_skipnull"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .orderBy("c_nationkey")
    )


# --- q100: null-safe equality — IS [NOT] DISTINCT FROM -----------------------
# The SQL-standard null-safe comparison PG users lean on daily: a join
# that MATCHES NULL keys to each other (IS NOT DISTINCT FROM; Spark's
# <=> / eqNullSafe) and a filter where NULL differs from a value
# (IS DISTINCT FROM). NULL keys are synthesised with NULLIF so the NULL
# group is non-trivial on both engines. The join runs on PRE-AGGREGATED
# per-key counts from two slices (each including its NULL group), so
# the null-safe match contributes exactly one (NULL, NULL) row — the
# semantics a plain equi-join silently drops.

_Q100_ORACLE = """
WITH a AS (
  SELECT NULLIF(o_custkey % 50, 0) AS k, COUNT(*) AS na
  FROM orders WHERE o_orderstatus = 'O' GROUP BY 1),
b AS (
  SELECT NULLIF(o_custkey % 50, 0) AS k, COUNT(*) AS nb
  FROM orders WHERE o_orderstatus = 'F' GROUP BY 1)
SELECT a.k, CAST(a.na AS BIGINT) AS na, CAST(b.nb AS BIGINT) AS nb,
       CAST(a.na * b.nb AS BIGINT) AS pairs,
       a.k IS DISTINCT FROM 7 AS not_seven
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
ORDER BY a.k NULLS FIRST
"""


@query(
    "q100_null_safe_join", _Q100_ORACLE,
    doc="IS [NOT] DISTINCT FROM: null-safe equi-join (<=>) over "
        "pre-aggregated slices with a real NULL group matched to itself, "
        "plus IS DISTINCT FROM as a projected predicate",
)
def q100(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    k = F.nullif(F.col("o_custkey") % 50, F.lit(0))
    a = (
        orders.filter(F.col("o_orderstatus") == "O")
        .groupBy(k.alias("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("na"))
    )
    b = (
        orders.filter(F.col("o_orderstatus") == "F")
        .groupBy(k.alias("kb"))
        .agg(F.count(F.lit(1)).cast("long").alias("nb"))
    )
    return (
        a.join(b, a.k.eqNullSafe(F.col("kb")))
        .select(
            "k", "na", "nb",
            (F.col("na") * F.col("nb")).cast("long").alias("pairs"),
            F.expr("k IS DISTINCT FROM 7").alias("not_seven"),
        )
        .orderBy(F.col("k").asc_nulls_first())
    )


# --- q102: PG LIKE-operator spellings ----------------------------------------
# pg_dump, psql \d output, and PG logs spell LIKE as operators: ~~ /
# !~~ / ~~* / !~~*. A reference user replaying dumped view definitions
# hits them immediately; the dialect lowers all four to Spark's native
# LIKE / NOT LIKE / ILIKE / NOT ILIKE (longest-first so
# the single-tilde regex operators never half-match). The oracle is
# written with the keyword forms — independent derivation of the same
# predicate semantics, case-sensitivity pinned per operator.

_Q102_ORACLE = """
SELECT CAST(SUM(CASE WHEN p_name LIKE '%green%' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_like,
       CAST(SUM(CASE WHEN p_name NOT LIKE '%green%' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_not_like,
       CAST(SUM(CASE WHEN p_type ILIKE '%BRASS%' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_ilike,
       CAST(SUM(CASE WHEN p_type NOT ILIKE '%BRASS%' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_not_ilike
FROM part
"""


@query(
    "q102_like_op_spellings", _Q102_ORACLE,
    doc="PG LIKE-operator spellings ~~ / !~~ / ~~* / !~~* (pg_dump "
        "output) lowered to LIKE / NOT LIKE / ILIKE / NOT ILIKE; "
        "oracle written with the keyword forms",
)
def q102(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    load_table(spark, sf_dir, "part").createOrReplaceTempView(
        "otx_part_q102"
    )
    return eng.sql(
        "SELECT CAST(SUM(CASE WHEN p_name ~~ '%green%' THEN 1 ELSE 0 END) "
        "         AS BIGINT) AS n_like, "
        "       CAST(SUM(CASE WHEN p_name !~~ '%green%' THEN 1 ELSE 0 END) "
        "         AS BIGINT) AS n_not_like, "
        "       CAST(SUM(CASE WHEN p_type ~~* '%BRASS%' THEN 1 ELSE 0 END) "
        "         AS BIGINT) AS n_ilike, "
        "       CAST(SUM(CASE WHEN p_type !~~* '%BRASS%' THEN 1 ELSE 0 END) "
        "         AS BIGINT) AS n_not_ilike "
        "FROM otx_part_q102"
    )


# --- q103: BETWEEN SYMMETRIC --------------------------------------------------
# PG's unordered-bounds BETWEEN (grammar a_expr BETWEEN SYMMETRIC): the
# engine swaps the bounds when given in descending order. Spark has no
# SYMMETRIC; the dialect lowers to least/greatest bounds.
# The gate deliberately passes the bounds REVERSED (high first) in both
# a WHERE and a NOT-form conditional aggregate; the oracle uses plain
# BETWEEN with correctly ordered bounds — independent derivation, so
# the hash certifies the swap semantics.

_Q103_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_in_band,
       CAST(SUM(CASE WHEN o_totalprice NOT BETWEEN 1000.0 AND 100000.0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_price_outside
FROM orders
WHERE o_orderdate BETWEEN DATE '1995-03-01' AND DATE '1995-03-20'
"""


@query(
    "q103_between_symmetric", _Q103_ORACLE,
    doc="BETWEEN SYMMETRIC with deliberately reversed bounds (WHERE + "
        "NOT form) lowered to least/greatest; "
        "oracle uses plain ordered BETWEEN",
)
def q103(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "otx_orders_q103"
    )
    return eng.sql(
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_in_band, "
        "       CAST(SUM(CASE WHEN o_totalprice NOT BETWEEN SYMMETRIC "
        "                          100000.0 AND 1000.0 "
        "                THEN 1 ELSE 0 END) AS BIGINT) AS n_price_outside "
        "FROM otx_orders_q103 "
        "WHERE o_orderdate BETWEEN SYMMETRIC DATE '1995-03-20' "
        "                      AND DATE '1995-03-01'"
    )


# --- w09: centered ROWS frame (x PRECEDING AND y FOLLOWING) -------------------
# The remaining physical-frame shape: a CENTERED moving window (3
# preceding .. 3 following) — unlike the running/unbounded frames
# (w01-w08), both edges move, so the engine must keep a sliding buffer
# rather than an accumulator. Exact integer cents over a TOTAL order
# ((user_id) partition, (ts_us, event_id) order — event_id unique), so
# both engines' buffers align row-for-row at every SF; the smoothed
# value and the frame's actual row count (shrinks at partition edges)
# are both pinned.

_W09_ORACLE = """
WITH e AS (
  SELECT user_id, event_id,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us,
         CAST(FLOOR(value * 100.0) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase')
SELECT user_id, event_id,
       CAST(SUM(cents) OVER w AS BIGINT) AS centered_sum,
       CAST(COUNT(*) OVER w AS BIGINT) AS frame_n
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
ORDER BY user_id, us, event_id
"""


@query(
    "w09_centered_rows_frame", _W09_ORACLE,
    doc="centered ROWS frame (3 PRECEDING .. 3 FOLLOWING): sliding "
        "buffer, not an accumulator — smoothed sum and edge-shrunk "
        "frame count pinned over a total per-partition order",
)
def w09(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.floor(F.col("value") * 100.0).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(-3, 3)
    )
    return e.select(
        "user_id", "event_id",
        F.sum("cents").over(w).cast("long").alias("centered_sum"),
        F.count(F.lit(1)).over(w).cast("long").alias("frame_n"),
        "us",
    ).orderBy("user_id", "us", "event_id").drop("us")


# --- w10: GROUPS frame mode + frame EXCLUDE (PG features Spark lacks) ---------
# PG window framing has three modes; Spark implements ROWS and RANGE but
# not GROUPS (frame measured in peer groups of the ORDER BY key), nor the
# frame EXCLUDE clause. Both lower exactly:
#   GROUPS BETWEEN a PRECEDING AND b FOLLOWING
#     == dense_rank() over the same order, then RANGE BETWEEN a..b over
#        that integer rank (peer groups are rank ties by construction);
#   ... EXCLUDE GROUP == the GROUPS aggregate minus the current peer
#        group's aggregate (a plain partition-keyed aggregate).
# DuckDB does not implement GROUPS mode either, so the oracle replays the
# SEMANTICS through a structurally different plan: aggregate each peer
# group first, ROWS-frame over the distinct groups (one row per group, so
# rows == groups by construction), then join back to the detail rows —
# an independent formulation, not an echo of the engine's lowering.

_W10_ORACLE = """
WITH e AS (
  SELECT user_id, event_id,
         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
         CAST(FLOOR(value * 100.0) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'),
d AS (
  SELECT user_id, day, SUM(cents) AS day_sum, COUNT(*) AS day_n
  FROM e GROUP BY user_id, day),
f AS (
  SELECT user_id, day, day_sum,
         SUM(day_sum) OVER w AS grp_sum,
         SUM(day_n) OVER w AS grp_n
  FROM d
  WINDOW w AS (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING))
SELECT e.user_id, e.event_id, e.day,
       CAST(f.grp_sum AS BIGINT) AS grp_sum,
       CAST(f.grp_n AS BIGINT) AS grp_n,
       CAST(f.grp_sum - f.day_sum AS BIGINT) AS excl_sum
FROM e JOIN f ON f.user_id = e.user_id AND f.day = e.day
ORDER BY e.user_id, e.day, e.event_id
"""


@query(
    "w10_groups_frame_exclude", _W10_ORACLE,
    doc="GROUPS frame mode + EXCLUDE GROUP lowered to dense_rank + "
        "integer RANGE frame (peer groups = rank ties) and a "
        "partition-keyed subtraction; oracle replays via "
        "aggregate-groups-then-ROWS-frame-then-rejoin",
)
def w10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select(
        "user_id", "event_id",
        (F.unix_micros(F.col("ts").cast("timestamp"))
         / F.lit(86400000000)).cast("long").alias("day"),
        F.floor(F.col("value") * 100.0).cast("long").alias("cents"),
    )
    order = Window.partitionBy("user_id").orderBy("day")
    ranked = e.withColumn("grp", F.dense_rank().over(order))
    frame = (
        Window.partitionBy("user_id")
        .orderBy("grp")
        .rangeBetween(-1, 1)
    )
    peer = Window.partitionBy("user_id", "day")
    return ranked.select(
        "user_id", "event_id", "day",
        F.sum("cents").over(frame).cast("long").alias("grp_sum"),
        F.count(F.lit(1)).over(frame).cast("long").alias("grp_n"),
        (F.sum("cents").over(frame) - F.sum("cents").over(peer))
        .cast("long").alias("excl_sum"),
    ).orderBy("user_id", "day", "event_id")


# --- o02: null-ordering defaults with comments inside ORDER BY ----------------
# The self-review-r10 regression class: a trailing comment after a sort
# item must neither swallow the appended NULLS spec nor truncate the
# clause scan (a LIMIT stop word inside the comment). Same top-k
# materialization contract as o01, with line and block comments placed
# exactly where the round's bug bit.

_O02_SQL = """
WITH nb AS (
  SELECT c_custkey,
         CASE WHEN c_acctbal < 0.0 THEN NULL ELSE c_acctbal END AS bal
  FROM customer)
SELECT 'asc' AS dir, c_custkey, bal FROM (
  SELECT c_custkey, bal FROM nb
  ORDER BY bal, -- limit rows by balance
           c_custkey /* tiebreak */ LIMIT 8)
UNION ALL
SELECT 'desc' AS dir, c_custkey, bal FROM (
  SELECT c_custkey, bal FROM nb
  ORDER BY bal DESC -- nulls lead here
         , c_custkey
  LIMIT 8)
"""

_O02_ORACLE = """
WITH nb AS (
  SELECT c_custkey,
         CASE WHEN c_acctbal < 0.0 THEN NULL ELSE c_acctbal END AS bal
  FROM customer)
SELECT 'asc' AS dir, c_custkey, bal FROM (
  SELECT c_custkey, bal FROM nb
  ORDER BY bal NULLS LAST, c_custkey NULLS LAST LIMIT 8)
UNION ALL
SELECT 'desc' AS dir, c_custkey, bal FROM (
  SELECT c_custkey, bal FROM nb
  ORDER BY bal DESC NULLS FIRST, c_custkey NULLS LAST LIMIT 8)
"""


@query(
    "o02_order_by_nulls_comments", _O02_ORACLE,
    doc="PG null-ordering defaults applied correctly when sort items "
        "carry trailing line/block comments (the spec lands before the "
        "comment; stop words inside comments do not truncate the scan)",
)
def o02(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    return eng.sql(_O02_SQL)


# --- q104: PG array slice syntax arr[a:b] -------------------------------------
# PG's 1-based inclusive array slicing (parsenodes A_Indices with
# lidx/uidx) lowered by the dialect to Spark's slice(arr, a,
# b-a+1); the oracle runs the SAME PG slice syntax natively on DuckDB
# (also 1-based inclusive), so the hash certifies the bound arithmetic,
# not just the parse. Mixed with a plain subscript and a slice over a
# call result (the balanced-paren group form).

_Q104_SQL = """
SELECT doc_id,
       array_to_string((string_to_array(text, ' '))[2:5], ' ') AS mid,
       (string_to_array(text, ' '))[1] AS first_word,
       CAST(len((string_to_array(text, ' '))[3:100]) AS BIGINT) AS tail_n
FROM documents
WHERE n_chars > 50
ORDER BY doc_id
LIMIT 200
"""


@query(
    "q104_array_slice", _Q104_SQL,
    doc="PG array slice [a:b] (1-based inclusive) lowered to "
        "slice(arr, a, b-a+1); subscript + "
        "call-group slice + out-of-range clamp, oracle runs the native "
        "PG syntax on DuckDB",
)
def q104(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    # split() is Spark's spelling of PG string_to_array, and size() its
    # list-length — the SLICE lowering is what this gate certifies; the
    # oracle keeps the native PG slice syntax end-to-end
    return eng.sql(
        "SELECT doc_id, "
        "array_join((split(text, ' '))[2:5], ' ') AS mid, "
        "(split(text, ' '))[1] AS first_word, "
        "CAST(size((split(text, ' '))[3:100]) AS BIGINT) AS tail_n "
        "FROM documents WHERE n_chars > 50 ORDER BY doc_id LIMIT 200"
    )
