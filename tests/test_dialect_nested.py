"""Deeply-nested dialect constructs, end-to-end against the DuckDB oracle.

The dialect layer (`otterbrix_spark/dialect.py` + `dialect_ast.py`) is a
tokenizer-based rewriter, not a full parser; its likeliest silent-misparse
zone is PG
operators NESTED inside CASE / subqueries / casts rather than at top level
(VERDICT r3 "What's missing" #4). Each test here routes a nested construct
through the full engine SQL surface (`Engine.execute_sql` -> dialect
rewrite -> spark.sql) and value-compares with an independently-written
DuckDB formulation — a misparse that silently changes semantics fails the
value hash, not just a smoke check."""

from __future__ import annotations

import pytest

from otterbrix_spark.engine import Engine

from oracle import compare


@pytest.fixture()
def engine(spark, tmp_path, sf_dir):
    eng = Engine(spark, table_dir=str(tmp_path))
    eng.register_corpus(sf_dir)
    return eng


def test_jsonb_arrow_inside_case_inside_subquery(engine, sf_dir):
    df = engine.sql(
        """
        SELECT t.et AS event_type, t.n_hot AS n_hot FROM (
          SELECT event_type AS et,
                 SUM(CASE WHEN (props ->> 'k')::bigint > 50
                     THEN 1 ELSE 0 END) AS n_hot
          FROM events GROUP BY event_type
        ) t WHERE t.n_hot > 0
        """
    )
    compare(
        df,
        """
        SELECT t.et AS event_type, t.n_hot FROM (
          SELECT event_type AS et,
                 SUM(CASE WHEN CAST(json_extract_string(props, '$.k')
                               AS BIGINT) > 50 THEN 1 ELSE 0 END) AS n_hot
          FROM events GROUP BY event_type
        ) t WHERE t.n_hot > 0
        """,
        sf_dir,
        "nested_case_subquery",
    )


def test_jsonb_path_op_inside_case_with_cast(engine, sf_dir):
    df = engine.sql(
        """
        SELECT event_type,
               COUNT(CASE WHEN (props #>> '{k}')::bigint BETWEEN 10 AND 90
                     THEN 1 END) AS mid_band
        FROM events GROUP BY event_type
        """
    )
    compare(
        df,
        """
        SELECT event_type,
               COUNT(CASE WHEN CAST(json_extract_string(props, '$.k')
                               AS BIGINT) BETWEEN 10 AND 90 THEN 1 END)
                 AS mid_band
        FROM events GROUP BY event_type
        """,
        sf_dir,
        "path_op_case_cast",
    )


def test_array_literal_subscript_inside_case(engine, sf_dir):
    df = engine.sql(
        """
        SELECT event_type,
               SUM(CASE WHEN ARRAY['view','click','purchase'][2] = event_type
                   THEN 1 ELSE 0 END) AS n_second
        FROM events GROUP BY event_type
        """
    )
    compare(
        df,
        """
        SELECT event_type,
               SUM(CASE WHEN 'click' = event_type THEN 1 ELSE 0 END)
                 AS n_second
        FROM events GROUP BY event_type
        """,
        sf_dir,
        "array_subscript_case",
    )


def test_jsonb_delete_inside_subquery_then_navigate(engine, sf_dir):
    # `props - 'k'` inside a derived table, then a ->> navigation of the
    # RESULT outside it: the delete rewrite and the navigate rewrite must
    # not interfere across the subquery boundary
    df = engine.sql(
        """
        SELECT COUNT(*) AS n_emptied FROM (
          SELECT (props - 'k') AS stripped FROM events
          WHERE props IS NOT NULL
        ) s WHERE (s.stripped ->> 'k') IS NULL
        """
    )
    compare(
        df,
        """
        SELECT COUNT(*) AS n_emptied FROM (
          SELECT json_merge_patch(props, '{"k": null}') AS stripped
          FROM events WHERE props IS NOT NULL
        ) s WHERE json_extract_string(s.stripped, '$.k') IS NULL
        """,
        sf_dir,
        "delete_then_navigate",
    )


def test_regex_op_inside_case_inside_having(engine, sf_dir):
    df = engine.sql(
        """
        SELECT event_type, COUNT(*) AS n
        FROM events
        GROUP BY event_type
        HAVING SUM(CASE WHEN event_type ~ '^p' THEN 1 ELSE 0 END) > 0
        """
    )
    compare(
        df,
        """
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM events
        GROUP BY event_type
        HAVING SUM(CASE WHEN regexp_matches(event_type, '^p')
                   THEN 1 ELSE 0 END) > 0
        """,
        sf_dir,
        "regex_case_having",
    )


def test_nested_string_literals_with_operators_inside(engine, sf_dir):
    # literals containing the operators themselves must survive every
    # rewrite pass even when adjacent to real operator uses
    df = engine.sql(
        """
        SELECT event_type,
               CONCAT('a->b', '-', 'c#>>d') AS decoy,
               COUNT(CASE WHEN (props ->> 'k') IS NOT NULL THEN 1 END) AS n
        FROM events GROUP BY event_type
        """
    )
    compare(
        df,
        """
        SELECT event_type, 'a->b' || '-' || 'c#>>d' AS decoy,
               COUNT(json_extract_string(props, '$.k')) AS n
        FROM events GROUP BY event_type
        """,
        sf_dir,
        "literal_decoys",
    )
