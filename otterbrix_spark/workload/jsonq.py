"""Semi-structured / events workload — the JSONBench query shapes
(reference `JSONBench/otterbrix/jsonbench.cpp:297-345`) plus JSONB path
navigation (`->`/`->>`/`#>`/`#>>` — reference
`components/sql/transformer/impl/transform_select.cpp:641-736`) over the
driver's `events` table (`props` is a JSON text column).

Timestamps are emitted as epoch microseconds (BIGINT) so the comparison is
representation-independent; the events source normalises the generator's
TIMESTAMP(NANOS) to microseconds at scan time (sources/registry.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from otterbrix_spark.functions import jsonb
from otterbrix_spark.functions.numeric import dsum, oracle_dsum
from otterbrix_spark.sources.registry import load_table
from otterbrix_spark.workload import query


# --- j01: top event types (JSONBench q1) ------------------------------------

_J01_ORACLE = """
SELECT event_type, COUNT(*) AS n
FROM events GROUP BY event_type ORDER BY n DESC, event_type
"""


@query("j01_event_counts", _J01_ORACLE, doc="JSONBench q1: top event types", bench=True)
def j01(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "event_type")
    )


# --- j02: distinct users per type (JSONBench q2) ----------------------------

_J02_ORACLE = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""


@query("j02_distinct_users", _J02_ORACLE, doc="JSONBench q2: COUNT(DISTINCT) per type")
def j02(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_users"))


# --- j03: filtered multi-IN counts (JSONBench q3) ---------------------------

_J03_ORACLE = f"""
SELECT event_type, COUNT(*) AS n, {oracle_dsum('value', 'total_value')}
FROM events
WHERE event_type IN ('click', 'purchase', 'view') AND value > 50
GROUP BY event_type
"""


@query("j03_filtered_in", _J03_ORACLE, doc="JSONBench q3: IN-list filter + counts")
def j03(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type").isin("click", "purchase", "view") & (F.col("value") > 50))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value"), "total_value"))
    )


# --- j04: earliest activity per user, first 3 (JSONBench q4) ----------------

_J04_ORACLE = """
SELECT user_id, epoch_us(MIN(ts)) AS first_us
FROM events GROUP BY user_id
ORDER BY first_us, user_id LIMIT 3
"""


@query("j04_first_activity", _J04_ORACLE, doc="JSONBench q4: MIN(ts) + ORDER BY + LIMIT 3")
def j04(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.unix_micros(F.min("ts")).alias("first_us"))
        .orderBy("first_us", "user_id")
        .limit(3)
    )


# --- j05: activity span per user, top 3 (JSONBench q5) ----------------------

_J05_ORACLE = """
SELECT user_id, epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS span_us,
       COUNT(*) AS n_events
FROM events GROUP BY user_id
ORDER BY span_us DESC, user_id LIMIT 3
"""


@query("j05_activity_span", _J05_ORACLE, doc="JSONBench q5: MAX-MIN span, top 3")
def j05(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("span_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy(F.col("span_us").desc(), "user_id")
        .limit(3)
    )


# --- j06: JSONB scalar navigation (`props ->> 'k'`) -------------------------

_J06_ORACLE = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       COUNT(json_extract_string(props, '$.k')) AS n_with_k
FROM events GROUP BY event_type
"""


@query("j06_jsonb_extract", _J06_ORACLE, doc="JSONB ->> navigation + aggregate")
def j06(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = jsonb.arrow_text(F.col("props"), "k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.sum(k).cast("bigint").alias("sum_k"),
        F.count(k).alias("n_with_k"),
    )


# --- j07: missing-path navigation yields NULL -------------------------------

_J07_ORACLE = """
SELECT COUNT(*) AS n_rows,
       COUNT(json_extract_string(props, '$.missing.path')) AS n_present,
       COUNT(*) - COUNT(json_extract_string(props, '$.missing.path')) AS n_null
FROM events
"""


@query("j07_jsonb_missing_path", _J07_ORACLE, doc="JSONB #>> on absent path -> NULL")
def j07(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    missing = jsonb.path_text(F.col("props"), ["missing", "path"])
    return ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(missing).alias("n_present"),
        (F.count(F.lit(1)) - F.count(missing)).alias("n_null"),
    )


# --- j08: hourly event-time rollup (Spark-first; streaming-shaped) ----------
# The reference's "streaming" is push-based batch pipelining (§2.11); this is
# the same aggregation our Structured Streaming pipeline runs with a
# watermark, here in batch form so it is oracle-checkable.

_J08_ORACLE = f"""
SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
       COUNT(*) AS n, {oracle_dsum('value', 'total_value')}
FROM events
GROUP BY 1, 2
"""


@query("j08_hourly_rollup", _J08_ORACLE, doc="event-time tumbling-window rollup (batch form)")
def j08(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_start"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value"), "total_value"))
    )


# --- j09: PG-dialect SQL through the engine facade --------------------------
# Entry point A end-to-end as an oracle-gated query: `->>` JSONB navigation,
# `~` regex match, and `::` cast rewritten by the dialect layer
# (SURVEY.md §3A) before hitting spark.sql.

_J09_ORACLE = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       COUNT(*) AS n
FROM events
WHERE regexp_matches(event_type, '^(click|view|purchase)$')
GROUP BY event_type
"""


@query("j09_dialect_sql", _J09_ORACLE, doc="PG-dialect SQL (->>, ~, ::) via execute_sql")
def j09(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("otx_events_j09")
    return eng.sql(
        "SELECT event_type, "
        "       CAST(SUM((props ->> 'k') :: BIGINT) AS BIGINT) AS sum_k, "
        "       COUNT(*) AS n "
        "FROM otx_events_j09 "
        "WHERE event_type ~ '^(click|view|purchase)$' "
        "GROUP BY event_type"
    )


# --- j10: deep JSONB path navigation over nested payloads -------------------
# The JSONBench payload shape ({commit: {collection, record: {text}}} —
# reference `JSONBench/otterbrix/jsonbench.cpp:34-40`) built from the events
# columns, then navigated back out with #>> deep paths.

_J10_ORACLE = """
WITH p AS (
  SELECT json_object(
           'commit', json_object(
             'collection', event_type,
             'record', json_object('k', json_extract_string(props, '$.k'))
           )
         ) AS payload
  FROM events
)
SELECT json_extract_string(payload, '$.commit.collection') AS collection,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(payload, '$.commit.record.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM p
GROUP BY 1
"""


@query("j10_nested_jsonb_paths", _J10_ORACLE, doc="deep #>> path navigation on nested JSON")
def j10(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    payload = F.to_json(
        F.struct(
            F.struct(
                F.col("event_type").alias("collection"),
                F.struct(
                    F.get_json_object("props", "$.k").alias("k")
                ).alias("record"),
            ).alias("commit")
        )
    )
    nested = ev.select(payload.alias("payload"))
    return nested.groupBy(
        jsonb.path_text(F.col("payload"), ["commit", "collection"]).alias("collection")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            jsonb.path_text(F.col("payload"), ["commit", "record", "k"]).cast("bigint")
        ).cast("bigint").alias("sum_k"),
    )


# --- j11: JSON array navigation ---------------------------------------------
# Arrays in JSON payloads: build one from event fields, navigate with [idx]
# paths (`#>` with numeric path steps).

_J11_ORACLE = """
WITH p AS (
  SELECT event_id,
         '[' || CAST(user_id AS VARCHAR) || ', ' ||
         CAST(event_id AS VARCHAR) || ']' AS arr
  FROM events WHERE event_id < 1000
)
SELECT CAST(SUM(CAST(json_extract_string(arr, '$[0]') AS BIGINT)) AS BIGINT)
         AS sum_first,
       CAST(SUM(CAST(json_extract_string(arr, '$[1]') AS BIGINT)) AS BIGINT)
         AS sum_second,
       COUNT(json_extract_string(arr, '$[2]')) AS n_third
FROM p
"""


@query("j11_json_array_nav", _J11_ORACLE, doc="JSON array index navigation ($[i])")
def j11(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    arr = F.concat(
        F.lit("["), F.col("user_id").cast("string"), F.lit(", "),
        F.col("event_id").cast("string"), F.lit("]"),
    )
    p = ev.select(arr.alias("arr"))
    return p.agg(
        F.sum(F.get_json_object("arr", "$[0]").cast("bigint")).cast("bigint").alias("sum_first"),
        F.sum(F.get_json_object("arr", "$[1]").cast("bigint")).cast("bigint").alias("sum_second"),
        F.count(F.get_json_object("arr", "$[2]")).alias("n_third"),
    )


# --- jd01: JSONB delete operators `-` / `#-` --------------------------------
# Reference `transform_select.cpp:641-736` (jsonb_delete expressions). The
# documents are built in-query from event fields (props is single-key), a
# top-level key and a nested path are deleted through the PG dialect
# operators, and the result is certified via surviving/removed extracts plus
# the exact deleted-document text (both engines emit compact JSON).

_JD01_ORACLE = """
WITH docs AS (
  SELECT event_id, user_id, event_type,
         json_object('a', event_id,
                     'n', json_object('x', user_id,
                                      'y', CAST(FLOOR(value * 100) AS BIGINT)),
                     'c', event_type) AS doc
  FROM events
  WHERE event_id < 200
)
SELECT event_id,
       json_merge_patch(doc, '{"c":null}')::VARCHAR AS no_c,
       -- ground-truth nested delete stated directly: merge_patch would
       -- reorder the patched key to the end, while jsonb delete preserves
       -- document order (which the Spark lowering does)
       json_object('a', event_id,
                   'n', json_object('x', user_id),
                   'c', event_type)::VARCHAR AS no_ny,
       json_extract_string(json_merge_patch(doc, '{"n":{"y":null}}'), '$.n.x') AS x_kept,
       json_extract_string(json_merge_patch(doc, '{"n":{"y":null}}'), '$.n.y') AS y_gone
FROM docs
"""


@query("jd01_jsonb_delete", _JD01_ORACLE, doc="JSONB delete `- 'key'` and `#- '{path}'` via the dialect")
def jd01(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    return eng.sql(
        """
        WITH docs AS (
          SELECT event_id,
                 to_json(named_struct('a', event_id,
                                      'n', named_struct('x', user_id,
                                                        'y', CAST(FLOOR(value * 100) AS BIGINT)),
                                      'c', event_type)) AS doc
          FROM events
          WHERE event_id < 200
        )
        , deleted AS (
          SELECT event_id,
                 doc - 'c' AS no_c,
                 doc #- '{n,y}' AS no_ny
          FROM docs
        )
        SELECT event_id, no_c, no_ny,
               no_ny #>> '{n,x}' AS x_kept,
               no_ny #>> '{n,y}' AS y_gone
        FROM deleted
        """
    )


# --- j13: nested dialect constructs through the SQL surface -----------------
# PG operators NESTED inside CASE / subqueries plus a 1-based ARRAY-literal
# subscript and operator-bearing string decoys — the silent-misparse zone
# the round-4 nested battery (tests/test_dialect_nested.py) exercises,
# promoted to an oracle gate so the external driver certifies the rewrite
# path, not just pytest. The subscript case is the exact shape of the
# round-4 bug (ARRAY['a','b'][2] falling through to Spark's 0-based `[]`).

_J13_ORACLE = """
SELECT t.et AS event_type, CAST(t.n_hot AS BIGINT) AS n_hot,
       'a->b#>>c' AS decoy FROM (
  SELECT event_type AS et,
         SUM(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT)
                       > 50
                   AND 'click' = ANY(ARRAY['view','click'])
                  THEN 1 ELSE 0 END) AS n_hot
  FROM events GROUP BY event_type
) t WHERE t.n_hot > 0
ORDER BY event_type
"""


@query(
    "j13_nested_dialect", _J13_ORACLE,
    doc="nested dialect: JSONB op inside CASE inside subquery, ARRAY "
        "literal subscript (1-based), operator decoys in literals",
)
def j13(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "otx_events_j13"
    )
    return eng.sql(
        "SELECT t.et AS event_type, t.n_hot AS n_hot, 'a->b#>>c' AS decoy "
        "FROM ( "
        "  SELECT event_type AS et, "
        "         SUM(CASE WHEN (props ->> 'k')::bigint > 50 "
        "                   AND ARRAY['view','click'][2] = 'click' "
        "                  THEN 1 ELSE 0 END) AS n_hot "
        "  FROM otx_events_j13 GROUP BY event_type "
        ") t WHERE t.n_hot > 0 "
        "ORDER BY event_type"
    )


# --- j14: exact distribution stats over a jsonb-extracted numeric ----------
# Composition the earlier jsonb gates don't exercise: the extracted value
# feeds an EXACT order-statistic aggregate (median via percentile — both
# engines compute exact order statistics, order-independent by
# definition) alongside min/max per group. Extraction stays
# get_json_object + cast — JVM-side, pushdown-friendly.

_J14_ORACLE = """
SELECT event_type,
       CAST(MEDIAN(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS DOUBLE) AS med_k,
       CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS min_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS max_k,
       CAST(COUNT(json_extract_string(props, '$.k')) AS BIGINT) AS n_with_k
FROM events GROUP BY event_type ORDER BY event_type
"""


@query(
    "j14_jsonb_median", _J14_ORACLE,
    doc="exact median/min/max of a jsonb-extracted numeric per group — "
        "order-statistic aggregate over get_json_object + cast",
)
def j14(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.groupBy("event_type")
        .agg(
            F.percentile(k, F.lit(0.5)).cast("double").alias("med_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
            F.count(k).alias("n_with_k"),
        )
        .orderBy("event_type")
    )


# --- j15: JSONB containment + key existence (@> / ? / ?|) -------------------
# The PG jsonb predicate operators routed through the ENGINE's SQL seam
# (the dialect lowers them in dialect_ast._fold): `@>` literal-pattern containment expands to
# get_json_object comparisons at rewrite time, `?`/`?|` to existence
# probes. The synthetic props payloads are flat {"k": <int>} objects, so
# the gate exercises number-match containment (69 matches 69.0 — PG
# numeric jsonb equality via the CAST AS DOUBLE lowering), a non-matching
# pattern band, and any-key existence.

_J15_ORACLE = """
SELECT event_type,
       CAST(SUM(CASE WHEN CAST(json_extract_string(props, '$.k') AS DOUBLE)
                          = 69.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_k69,
       CAST(SUM(CASE WHEN json_extract_string(props, '$.k') IS NOT NULL
                          OR json_extract_string(props, '$.zz') IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_has_any,
       CAST(SUM(CASE WHEN json_extract_string(props, '$.zz') IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_has_zz
FROM events WHERE props IS NOT NULL
GROUP BY event_type ORDER BY event_type
"""


@query(
    "j15_jsonb_containment", _J15_ORACLE,
    doc="PG jsonb predicate operators through the SQL seam: @> literal "
        "containment, ? / ?| key existence — rewrite-time expansion to "
        "get_json_object probes",
)
def j15(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    eng.register_corpus(sf_dir)
    return eng.sql(
        "SELECT event_type, "
        "SUM(CASE WHEN props @> '{\"k\": 69}' THEN 1 ELSE 0 END) AS n_k69, "
        "SUM(CASE WHEN props ?| ARRAY['k', 'zz'] THEN 1 ELSE 0 END) "
        "AS n_has_any, "
        "SUM(CASE WHEN props ? 'zz' THEN 1 ELSE 0 END) AS n_has_zz "
        "FROM events WHERE props IS NOT NULL "
        "GROUP BY event_type ORDER BY event_type"
    )


# --- j16: jsonb_agg (JSON aggregation) ---------------------------------------
# PG's jsonb_agg / jsonb_object_agg surface: aggregate rows INTO a JSON
# document. Spark lowering: to_json(collect_list(struct(...))) with an
# explicit element order (rnk) pinned on both engines — a JSON string is
# hash-compared verbatim, so serialization must agree byte-for-byte
# (verified: both engines emit compact {"k":v} with identical escaping
# for BIGINT + VARCHAR payloads). Per event type, the top-3 users by
# event count (count desc, user_id tiebreak) packed as
# [{"rnk":1,"u":...,"n":...}, ...].

_J16_ORACLE = """
WITH c AS (
  SELECT event_type, user_id, COUNT(*) AS n
  FROM events GROUP BY event_type, user_id),
r AS (
  SELECT event_type, user_id, n,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY n DESC, user_id) AS rnk
  FROM c)
SELECT event_type,
       '[' || string_agg(json_object('rnk', rnk, 'u', user_id,
                                     'n', n)::VARCHAR,
                         ',' ORDER BY rnk) || ']' AS top_json
FROM r WHERE rnk <= 3
GROUP BY event_type ORDER BY event_type
"""


@query(
    "j16_jsonb_agg", _J16_ORACLE,
    doc="jsonb_agg lowering: rows aggregated into a JSON array document "
        "with pinned element order, byte-identical serialization",
)
def j16(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    c = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), "user_id"
    )
    r = c.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 3)
    return (
        r.groupBy("event_type")
        .agg(
            F.to_json(
                F.array_sort(
                    F.collect_list(F.struct("rnk", F.col("user_id").alias("u"), "n"))
                )
            ).alias("top_json")
        )
        .orderBy("event_type")
    )


# --- j17: VARIANT type ----------------------------------------------------
# Spark 4's native semi-structured VARIANT type (parse_json ->
# variant_get), the engine-level answer to the reference's jsonb column
# family (components/document): unlike get_json_object's per-access
# string re-parse, VARIANT parses ONCE into a binary-encoded value that
# every subsequent path access reads directly — the difference between
# O(accesses x parse) and O(parse + accesses) on a 100 TB props column.
# The try_* forms make malformed rows NULL instead of failing the scan.
# Oracle: DuckDB's JSON extraction over the same props strings.

_J17_ORACLE = """
WITH x AS (
  SELECT event_type,
         TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(k) AS BIGINT) AS n_k,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       CAST(MAX(k) AS BIGINT) AS max_k
FROM x GROUP BY event_type ORDER BY event_type
"""


@query(
    "j17_variant_type", _J17_ORACLE,
    doc="Spark 4 VARIANT: try_parse_json once into binary-encoded "
        "variant, typed variant_get path access — no per-access string "
        "re-parse; DuckDB JSON extraction oracle",
)
def j17(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    x = ev.select(
        "event_type",
        F.try_variant_get(
            F.try_parse_json(F.col("props")), "$.k", "bigint"
        ).alias("k"),
    )
    return (
        x.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("k").alias("n_k"),
            F.sum("k").cast("long").alias("sum_k"),
            F.max("k").cast("long").alias("max_k"),
        )
        .orderBy("event_type")
    )


# --- q101: PERMISSIVE JSONL ingest with corrupt-record accounting -----------
# The ingest reality every document pipeline faces: a JSONL landing file
# with some malformed lines. Spark's PERMISSIVE reader (the default the
# reference's dynamic-schema ingest maps onto, sources/dynamic.py) must
# load the good lines against an explicit schema and null-out — not
# drop, not abort — the corrupt ones. The gate WRITES a real JSONL file
# (valid lines via to_json; every doc_id % 13 == 0 line deliberately
# truncated mid-object), reads it back PERMISSIVE, and reports per-lang
# good counts/char sums plus a '__corrupt__' accounting row; corrupt
# rows are detected by the populated corrupt-record column (partial-
# results mode still fills prefix fields of a truncated line, so field
# nulling is NOT a reliable signal; the raw line itself is). The frame
# is cached first — Spark requires it when the corrupt column is
# queried on a raw scan. The oracle never sees the file —
# it derives the same report from the documents table and the same
# doc_id % 13 rule, so the hash certifies the reader's behaviour.

_Q101_ORACLE = """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_good,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents WHERE doc_id % 13 <> 0
GROUP BY lang
UNION ALL
SELECT '__corrupt__' AS lang, CAST(COUNT(*) AS BIGINT) AS n_good,
       CAST(0 AS BIGINT) AS sum_chars
FROM documents WHERE doc_id % 13 = 0
ORDER BY lang
"""


@query(
    "q101_jsonl_corrupt_ingest", _Q101_ORACLE,
    doc="PERMISSIVE JSONL ingest: real landing file with deliberately "
        "truncated lines, schema-nulled corrupt rows counted (never "
        "dropped, never aborting) — oracle derived from the source "
        "table, certifying the reader end-to-end",
)
def q101(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from otterbrix_spark.workload import scratch_dir

    docs = load_table(spark, sf_dir, "documents")
    valid = F.to_json(F.struct("doc_id", "lang", "n_chars"))
    corrupt = F.concat(
        F.lit('{"doc_id": '), F.col("doc_id").cast("string"),
        F.lit(', "lang": "'), F.col("lang"), F.lit('", "n_chars":'),
    )
    lines = docs.select(
        F.when(F.col("doc_id") % 13 == 0, corrupt)
        .otherwise(valid)
        .alias("value")
    )
    landing = os.path.join(scratch_dir("q101_jsonl_"), "landing")
    lines.write.mode("overwrite").text(landing)
    back = (
        spark.read.schema(
            "doc_id BIGINT, lang STRING, n_chars BIGINT, _corrupt STRING"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(landing)
    ).localCheckpoint(eager=True)
    good = (
        back.filter(F.col("_corrupt").isNull())
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_good"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )
    bad = back.filter(F.col("_corrupt").isNotNull()).agg(
        F.lit("__corrupt__").alias("lang"),
        F.count(F.lit(1)).cast("long").alias("n_good"),
        F.lit(0).cast("long").alias("sum_chars"),
    )
    return good.unionByName(bad).orderBy("lang")
