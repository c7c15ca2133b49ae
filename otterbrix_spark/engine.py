"""Engine facade — entry point A of the reference (`execute_sql(str) ->
Cursor`, `integration/cpp/wrapper_dispatcher.cpp:91-118`).

`spark.sql` subsumes the reference's parse → transform → resolve → optimise →
execute lifecycle (SURVEY.md §3); this facade adds the PG-dialect rewrite,
table registration, and the cursor contract. Parameterised queries (``$1``
placeholders, reference `parameter_node_t`) map onto Spark's native
parameterised `spark.sql(query, args)`.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from otterbrix_spark.catalog import Catalog, _code_start
from otterbrix_spark.cursor import Cursor
from otterbrix_spark.dialect import rewrite
from otterbrix_spark.session import configure_session, get_spark
from otterbrix_spark.sources.registry import register_views

# PG EXECUTE name [(args)]
_EXECUTE = re.compile(
    r"^\s*EXECUTE\s+([A-Za-z_]\w*)\s*(?:\((.*)\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


class Engine:
    def __init__(self, spark: SparkSession | None = None, table_dir: str | None = None):
        self.spark = spark or get_spark()
        configure_session(self.spark)
        self.catalog = Catalog(self.spark, table_dir)
        # PG prepared statements (reference parsenodes PrepareStmt /
        # ExecuteStmt / DeallocateStmt): name -> raw statement text with
        # $n placeholders, bound at EXECUTE time
        self._prepared: dict[str, str] = {}
        # parser extensions (reference parser_extension_t,
        # components/sql/parser/extension.hpp:24-43): name -> claim fn,
        # tried in registration order BEFORE built-in routing. Per-engine
        # registration, like the reference's per-dispatcher
        # add_parser_extension (test_parser_extension.cpp
        # "parser_extension_is_per_instance").
        self._extensions: dict = {}

    # -- parser extensions ----------------------------------------------------
    def register_extension(self, name: str, claim) -> None:
        """Register a claim-or-pass parser extension.

        ``claim(sql) -> DataFrame | None``: return a DataFrame to CLAIM
        the statement (the reference's successful parse), or None to pass
        it to the next extension / the built-in parser. An exception from
        a claim fn surfaces — that is the reference's transform-phase
        error, raised only after the extension recognized the statement.
        Extensions run in registration order; re-registering a name
        replaces its claim fn in place."""
        if not callable(claim):
            raise TypeError("claim must be callable(sql) -> DataFrame|None")
        self._extensions[name] = claim

    def unregister_extension(self, name: str) -> None:
        if name not in self._extensions:
            raise KeyError(f"no parser extension named {name!r}")
        del self._extensions[name]

    # -- catalog ------------------------------------------------------------
    def register_corpus(self, sf_dir: str) -> None:
        """Register the synthetic test corpus directory as temp views."""
        register_views(self.spark, sf_dir)

    def register(self, name: str, df: DataFrame) -> None:
        df.createOrReplaceTempView(name)

    # -- entry point A ------------------------------------------------------
    def execute_sql(self, sql: str, *params) -> Cursor:
        """PG-dialect SQL -> rewritten Spark SQL -> Cursor.

        ``$1``-style positional parameters are bound via Spark's native
        parameterised SQL (constants extracted exactly like the reference's
        parameter_node_t). Semicolon-separated multi-statement batches run
        sequentially (reference operator_sequence/operator_batch); the last
        statement's cursor is returned.
        """
        # parser extensions get the RAW statement first — BEFORE the
        # semicolon splitter, so a custom grammar containing ';' sees the
        # full text (the reference tries registered extensions before its
        # built-in PG parser, extension.hpp). First claim wins, a pass
        # falls through, and a parse failure surfaces only if nobody —
        # extension or built-in — claims. Snapshot the claim list: a
        # claim fn may (un)register extensions mid-claim.
        for claim in list(self._extensions.values()):
            claimed = claim(sql)
            if claimed is not None:
                return Cursor(claimed)
        statements = _split_statements(sql)
        if len(statements) > 1:
            cur = None
            for stmt in statements:
                cur = self.execute_sql(stmt, *params)
            return cur
        if statements:
            # the statement as split: leading comments dropped
            sql = statements[0]
        handled = self._prepared_statement(sql, params)
        if handled is not None:
            return handled
        handled = self._explain_statement(sql, params)
        if handled is not None:
            return handled
        body = self.catalog.rewrite_domain_casts(
            self.catalog.canonicalize(rewrite(sql))
        )
        stmt = self.catalog.statement(body)
        if params:
            if stmt.routed:
                # routed statements (DML/DDL on managed tables, SET ...) go
                # through the Catalog, which has no parameter binder — inline
                # the literals exactly as the reference's parameter_node_t
                # folds constants into the plan
                return self._route(re.sub(
                    r"\$(\d+)",
                    lambda m: _sql_literal(params[int(m.group(1)) - 1]),
                    body,
                ))
            body = re.sub(r"\$(\d+)", lambda m: f":p{m.group(1)}", body)
            args = {f"p{i + 1}": v for i, v in enumerate(params)}
            return Cursor(self.spark.sql(body, args=args))
        if stmt.routed:
            return self._route(body, stmt)
        return Cursor(self.spark.sql(body))

    def _route(self, body: str, stmt=None) -> Cursor:
        """Route through the catalog, then, when the statement's row
        ``mutates``, persist the catalog dicts and re-register
        late-binding views — the statement boundary where every
        DDL/sequence mutation is already applied (reference persistence:
        a reopened engine over the same table_dir sees tables,
        constraints, sequences, types and views; `test_persistence.cpp`).
        Cursor traffic and transaction bookkeeping skip both: row-at-a-time
        cursor loops (FETCH + positioned DML per row) must not pay a JSON
        write + per-view re-analysis per FETCH (self-review r10). A
        statement consuming a sequence mutates whatever its head.

        While an explicit transaction is open, persistence is DEFERRED to
        the COMMIT/ROLLBACK boundary — an eager per-statement write would
        leave in-txn DDL visible to a reopened engine after a pre-COMMIT
        crash, contradicting transactional-DDL rollback. View refresh
        still runs per in-txn statement (read-your-writes through views
        reads the staged temp views)."""
        stmt = stmt or self.catalog.classify(body)
        cur = Cursor(self.catalog.route(stmt.sql, stmt))
        if stmt.kind.mutates:
            if self.catalog._txn is None:
                # ON COMMIT DELETE ROWS under autocommit: the statement's
                # implicit commit empties any delete-mode temp table the
                # DML touched, before the boundary persists (PG parity —
                # ADVICE r12)
                if any(
                    m == "delete"
                    for m in self.catalog.temp_tables.values()
                ):
                    self.catalog.implicit_commit_temp_sweep(stmt.sql)
                self.catalog.persist_catalog_state()
            if stmt.kind.refresh_all:
                # staged frames were swapped out / discarded — every view
                # bound to them during the txn must re-bind to disk state
                self.catalog.refresh_views()
            else:
                self.catalog.refresh_views(statement=stmt.sql)
        return cur

    def sql(self, sql: str, *params) -> DataFrame:
        return self.execute_sql(sql, *params).df

    # -- EXPLAIN (PG's plan-inspection statement) ----------------------------
    def _explain_statement(self, sql: str, params) -> "Cursor | None":
        """Route ``EXPLAIN [ANALYZE] <query>``; None if not an EXPLAIN.

        PG prints its planner tree; here the underlying query runs through
        the normal dialect/catalog path and the CATALYST plan is returned,
        one line per row in a single ``plan`` column — so a reference user's
        EXPLAIN habit works and shows the engine they are actually on.
        ``EXPLAIN ANALYZE`` uses Spark's "cost" mode (adds statistics);
        plain EXPLAIN uses "formatted" (physical operators + details,
        where PushedFilters/ReadSchema pruning is visible).

        Execution semantics follow PG: only ``EXPLAIN ANALYZE`` actually
        applies a DML statement. Plain ``EXPLAIN`` of catalog-routed
        INSERT/UPDATE/DELETE/MERGE stages the write inside a discarded
        implicit transaction (the table is untouched); plain EXPLAIN of a
        routed CTAS / CREATE MATERIALIZED VIEW plans its source query
        without creating the table; other routed utility statements
        (TRUNCATE, ALTER, SET, ...) refuse, as PG's grammar does."""
        m = re.match(
            r"^\s*EXPLAIN\s+(ANALYZE\s+)?(.+)$", sql,
            re.IGNORECASE | re.DOTALL,
        )
        if m is None:
            return None
        if m.group(1):
            inner = self.execute_sql(m.group(2).strip(), *params)
        else:
            inner, pre_rendered = self._explain_only(
                m.group(2).strip(), params
            )
            if pre_rendered:
                return inner  # already one plan line per row
        jvm = self.spark.sparkContext._jvm
        mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "cost" if m.group(1) else "formatted"
        )
        text = inner.df._jdf.queryExecution().explainString(mode)
        rows = [(line,) for line in text.splitlines() if line.strip()]
        return Cursor(
            self.spark.createDataFrame(rows, "plan STRING")
        )

    def _explain_only(self, sql: str, params) -> "tuple[Cursor, bool]":
        """Plan a statement WITHOUT applying it (plain ``EXPLAIN``).

        Returns (cursor, pre_rendered): when ``pre_rendered`` the cursor
        already holds one plan line per row (the native-EXPLAIN fallback
        for DML on tables the Catalog does not manage — Spark runs DML
        commands eagerly on ``spark.sql``, so the only plan-without-write
        path there is Spark's own EXPLAIN statement).

        ``EXECUTE name(args)`` binds the prepared text first (PG's
        EXPLAIN EXECUTE). Everything else goes by the explain mode of the
        statement's row in the catalog's statement table: writes on
        managed tables go through ``Catalog.explain_route`` (staged in a
        discarded implicit transaction, sequence state restored);
        nextval()/currval() calls are peeked WITHOUT consuming (PG never
        evaluates nextval under plain EXPLAIN); CTAS-family statements
        plan their source query; utility statements, which PG's EXPLAIN
        grammar refuses, raise rather than execute."""
        mex = _EXECUTE.match(sql)
        if mex:
            bound = self._bind_prepared(
                mex.group(1).lower(), mex.group(2), params
            )
            return self._explain_only(bound, params)
        body = self.catalog.rewrite_domain_casts(
            self.catalog.canonicalize(rewrite(sql))
        )
        if params:
            body = re.sub(
                r"\$(\d+)",
                lambda mm: _sql_literal(params[int(mm.group(1)) - 1]),
                body,
            )
        stmt = self.catalog.statement(body)
        mode = stmt.kind.explain
        if mode == "seq":
            # PG plans nextval()/currval() without evaluating them: peek
            # the current values, then explain by the statement's own row
            peeked = self.catalog._peek_sequences(body, strict=True)
            inner = self.catalog.classify(peeked)
            mode = inner.kind.explain
            if mode in ("query", "ctas"):
                body, stmt = peeked, inner
        if mode == "query":
            return Cursor(self.spark.sql(body)), False
        if mode == "probe":
            # the discarded-txn probe stages the write lazily (data-
            # modifying CTEs: every sub-statement) and plans its result
            return Cursor(self.catalog.explain_route(body)), False
        if mode == "native":
            # DML on a table the catalog does not manage: route() would
            # hand it to spark.sql, which EXECUTES DML commands eagerly —
            # Spark's own EXPLAIN is the plan-only path there
            return (
                Cursor(self.spark.sql("EXPLAIN FORMATTED " + stmt.sql)),
                True,
            )
        if mode == "ctas":
            source = stmt.kind.source(stmt.match)
            if source is not None:
                return self._explain_only(source.strip(), ())
        # anything else executes (routed utility statements, and the
        # commands spark.sql runs eagerly: SET k=v, CACHE TABLE, ...)
        raise ValueError(
            "EXPLAIN cannot plan a utility statement without executing it "
            "(PG accepts only SELECT/VALUES/DML/CTAS under EXPLAIN); "
            "use EXPLAIN ANALYZE to execute and profile it"
        )

    # -- prepared statements (PG PREPARE / EXECUTE / DEALLOCATE) ------------
    def _prepared_statement(self, sql: str, params) -> "Cursor | None":
        """Route PREPARE / EXECUTE / DEALLOCATE; None if ``sql`` is neither.

        PG semantics (reference grammar PrepareStmt/ExecuteStmt nodes):
        PREPARE stores the statement TEXT with its $n placeholders — any
        optional parameter-type list is accepted and ignored, since Spark's
        binder infers types; EXECUTE folds the call's literal arguments
        into the $n slots (the reference's parameter_node_t constant
        folding) and runs the stored text through the normal path, so
        prepared DML, DDL and SELECT all work; re-PREPARE of a live name
        errors as in PG; DEALLOCATE [ALL] drops."""
        m = re.match(
            r"^\s*PREPARE\s+([A-Za-z_]\w*)\s*(?:\(([^)]*)\))?\s+AS\s+(.+)$",
            sql,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            name = m.group(1).lower()
            if name in self._prepared:
                raise ValueError(
                    f'prepared statement "{name}" already exists'
                )
            self._prepared[name] = m.group(3).strip().rstrip(";")
            return Cursor(
                self.spark.sql(f"SELECT '{name}' AS prepared LIMIT 0")
            )
        m = _EXECUTE.match(sql)
        if m:
            body = self._bind_prepared(m.group(1).lower(), m.group(2), params)
            return self.execute_sql(body, *params)
        m = re.match(
            r"^\s*DEALLOCATE\s+(?:PREPARE\s+)?(ALL|[A-Za-z_]\w*)\s*;?\s*$",
            sql,
            re.IGNORECASE,
        )
        if m:
            name = m.group(1).lower()
            if name == "all":
                self._prepared.clear()
            elif self._prepared.pop(name, None) is None:
                raise ValueError(f'prepared statement "{name}" does not exist')
            return Cursor(self.spark.sql("SELECT 'ok' AS deallocated LIMIT 0"))
        return None

    def _bind_prepared(self, name: str, argstr, params) -> str:
        """Fold an EXECUTE call's literal arguments into the stored
        prepared text's ``$n`` slots and return the bound statement.

        Parameter-count discipline (PG's "wrong number of parameters"):
        the max ``$n`` referenced must be covered by the call's argument
        list — checked even for the ZERO-argument ``EXECUTE name`` form
        (unless the engine-level ``*params`` will bind them downstream,
        the supported pass-through combination)."""
        if name not in self._prepared:
            raise ValueError(f'prepared statement "{name}" does not exist')
        body = self._prepared[name]
        from otterbrix_spark.dialect import (
            _protect_strings,
            _restore_strings,
            _split_top_level,
        )

        args = [
            a.strip() for a in _split_top_level(argstr or "") if a.strip()
        ]
        protected, lits = _protect_strings(body)
        refs = [int(x) for x in re.findall(r"\$(\d+)", protected)]
        if refs and max(refs) > len(args) and (args or not params):
            raise ValueError(
                f'wrong number of parameters for prepared statement '
                f'"{name}": expected {max(refs)}, got {len(args)}'
            )
        if not args:
            return body
        # simple literals substitute bare so downstream dialect rules
        # that pattern-match literal operands (e.g. `~ '<re>'`) still
        # fire; anything else gets defensive parens
        simple = re.compile(
            r"'(?:[^']|'')*'|[-+]?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?"
            r"|NULL|TRUE|FALSE",
            re.IGNORECASE,
        )

        def bind(mm: re.Match) -> str:
            arg = args[int(mm.group(1)) - 1]
            return arg if simple.fullmatch(arg) else f"({arg})"

        return _restore_strings(re.sub(r"\$(\d+)", bind, protected), lits)

    # -- entry point B bridge ----------------------------------------------
    def from_df(self, obj, name: str | None = None):
        from otterbrix_spark.relation import from_df

        rel = from_df(obj, spark=self.spark)
        if name:
            rel.df.createOrReplaceTempView(name)
        return rel


def _sql_literal(value) -> str:
    """Render a Python value as a SQL literal (for routed-statement binding)."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):  # before int: bool is an int subclass
        return "TRUE" if value else "FALSE"
    if isinstance(value, float):
        # repr() of non-finite floats ('inf', 'nan') is not valid SQL
        if value != value:
            return "CAST('NaN' AS DOUBLE)"
        if value == float("inf"):
            return "CAST('Infinity' AS DOUBLE)"
        if value == float("-inf"):
            return "CAST('-Infinity' AS DOUBLE)"
        return repr(value)
    if isinstance(value, int):
        return repr(value)
    # Spark treats backslash as an escape inside string literals — double it
    # before quote-doubling so a trailing '\' can't swallow the closing quote
    return "'" + str(value).replace("\\", "\\\\").replace("'", "''") + "'"


def _split_statements(sql: str) -> list[str]:
    """Split a batch on top-level semicolons — string-literal AND
    comment-aware: a ';' inside '...', a `--` line comment, or a `/* */`
    block comment never splits the batch (comments inside a statement are
    preserved verbatim; Spark's parser accepts both forms). Comments before
    a statement's first token are dropped, so the catalog's statement
    patterns see its head; comment-only segments are dropped."""
    out: list[str] = []
    cur = ""
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch == "$":  # PG dollar-quoted string: $tag$ ... $tag$
            m = re.match(r"\$[A-Za-z_]\w*\$|\$\$", sql[i:])
            if m:
                tag = m.group(0)
                j = sql.find(tag, i + len(tag))
                j = n if j == -1 else j + len(tag)
                cur += sql[i:j]
                i = j
                continue
        if ch == "'":  # string literal; '' is an escaped quote inside it
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            cur += sql[i : j + 1]
            i = j + 1
            continue
        if ch == "-" and sql[i : i + 2] == "--":  # line comment
            j = sql.find("\n", i)
            j = n if j == -1 else j
            cur += sql[i:j] if cur.strip() else ""
            i = j
            continue
        if ch == "/" and sql[i : i + 2] == "/*":  # block comment
            j = sql.find("*/", i + 2)
            j = n if j == -1 else j + 2
            cur += sql[i:j] if cur.strip() else ""
            i = j
            continue
        if ch == ";":
            if _code_start(cur):
                out.append(cur.strip())
            cur = ""
            i += 1
            continue
        cur += ch
        i += 1
    if _code_start(cur):
        out.append(cur.strip())
    return out


def connect(spark: SparkSession | None = None) -> Engine:
    """Mirror of the reference Python `connect()` entry point."""
    return Engine(spark)


def explain_sql(engine: Engine, sql: str, mode: str = "formatted") -> str:
    """EXPLAIN facade: rewritten-dialect SQL -> physical plan text."""
    df = engine.sql(sql)
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)
