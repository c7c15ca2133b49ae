"""DML / DDL emulation — the reference's OLTP half (SURVEY.md §2.10) on
parquet-backed managed tables.

Reference operators covered:
  - `operator_insert` (INSERT VALUES / FROM SELECT, RETURNING) —
    `operators/operator_insert.cpp`
  - `operator_update` (SET expression trees over matched rows, RETURNING) —
    `operator_update.cpp`
  - `operator_delete` — `operator_delete.cpp`
  - constraint checks: `operator_check_constraint.cpp` (CHECK),
    `operator_fk_check.cpp` (FK validation), `operator_fk_cascade.cpp`
    (cascade delete)
  - `operator_create_matview.cpp` (CTAS + refresh)
  - `operator_sequence.cpp` (sequences)

Spark-first stance: INSERT is an append write (scalable, transactional per
write on any cloud FS). UPDATE/DELETE are read-rewrite-swap — O(table) on
plain parquet, exactly what Delta/Iceberg avoid with copy-on-write file-level
rewrites; the class documents that seam and keeps the API identical so a
Delta-backed implementation is a drop-in. Constraint checks are distributed
validation joins (anti-join against parent keys), never driver-side loops.

One Spark action per write: like the reference's DML sinks, which emit the
modified-row count from the pass that writes, a write takes its counts with
:class:`Observed` (``DataFrame.observe``) during the write itself instead of
a separate ``count()`` job. A swap runs *stage → verify → commit*
(:meth:`ManagedTable._swap_in`): the new contents are written to a staged
directory beside the table, the caller's ``verify`` sees the counts that
write observed (UPDATE…FROM and MERGE refuse a target row matched more than
once there, then validate constraints), and only then is the staged
directory swapped in. If ``verify`` raises, the staged directory is deleted
and the table is untouched.
"""

from __future__ import annotations

import fcntl
import os
import shutil
import tempfile
import uuid
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType, DataType, MapType, StructType, UserDefinedType,
)


class ConstraintViolation(Exception):
    pass


@contextmanager
def table_write_lock(path: str):
    """Exclusive writer mutex for a table directory: an O_CREAT lock file
    beside the table + ``flock(LOCK_EX)``. Two engines (threads OR
    processes on the same host) cannot interleave stage/commit_staged — the
    second writer blocks until the first's swap completes, which is what
    makes the write-all-then-swap-all commit safe under concurrent engines.
    This covers the reference's single-node transaction_manager scope
    (`components/table/transaction_manager.hpp`); cross-HOST coordination
    on a shared object store is the table format's job (Delta/Iceberg
    optimistic commit) — the documented Delta seam."""
    lock_path = path.rstrip("/") + ".lock"
    fd = os.open(lock_path, os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


class Observed:
    """Named aggregates over a frame, taken by whichever action first runs
    a plan built on :attr:`df` (``DataFrame.observe``), so a write reports
    its row counts without a second job::

        seen = Observed(rows, inserted=F.count(F.lit(1)))
        seen.df.write.parquet(path)
        n = seen.get()["inserted"]

    Metrics must be aggregates of columns (Spark refuses subqueries there).
    :meth:`get` is read after that action. When the optimizer proves the
    observed subtree empty and drops it (``DELETE ... WHERE true`` filters
    on a literal ``false``), the action reports no metrics; :meth:`get`
    then aggregates the unobserved frame, one job on that path only."""

    def __init__(self, df: DataFrame, **metrics: Column):
        self._src = df
        self._metrics = [c.alias(k) for k, c in metrics.items()]
        self._obs = Observation()
        self.df = df.observe(self._obs, *self._metrics)

    def get(self) -> dict:
        try:
            return self._obs.get
        except Py4JJavaError:  # the action ran without the observed node
            return self._src.agg(*self._metrics).first().asDict()


def count_pass(frame: DataFrame, *observed: Observed) -> dict:
    """Run ``frame`` into Spark's no-op sink: one job, with no shuffle,
    that fills ``observed`` (built into ``frame``'s plan) without writing
    anything; ``count()`` runs two under adaptive execution. The
    statement-time pass of a write that is not published now (inside a
    transaction, or before RETURNING pins its rows)."""
    frame.write.format("noop").mode("overwrite").save()
    return _metrics(observed)


def pin(frame: DataFrame) -> DataFrame:
    """Materialise ``frame`` now (one job) into blocks only the returned
    frame reads. RETURNING rows are a lazy plan over files a swap is about
    to delete, so they are pinned first. Not ``cache()``: the
    CacheManager matches a later scan of the same table directory to the
    cached rows, and a swap is a rename Spark never sees, so the next
    identical statement would be served the old rows."""
    return frame.localCheckpoint(eager=True)


def _metrics(observed) -> dict:
    return {k: v for o in observed for k, v in o.get().items()}


def sql_type(dt: DataType) -> str | DataType:
    """``dt`` as SQL type text, for ``Column.cast``. A cast to a
    ``DataType`` object costs py4j round trips on every call (the active
    session, then parsing the type's JSON); a cast to type text is one.
    A type the text cannot spell exactly stays an object: a user-defined
    type, or a nested non-nullable element or field metadata."""
    text = _type_text(dt)
    return dt if text is None else text


def _type_text(dt: DataType) -> str | None:
    if isinstance(dt, UserDefinedType):
        return None
    if isinstance(dt, ArrayType):
        inner = _type_text(dt.elementType) if dt.containsNull else None
        return None if inner is None else f"ARRAY<{inner}>"
    if isinstance(dt, MapType):
        k, v = _type_text(dt.keyType), _type_text(dt.valueType)
        if k is None or v is None or not dt.valueContainsNull:
            return None
        return f"MAP<{k}, {v}>"
    if isinstance(dt, StructType):
        fields = []
        for f in dt.fields:
            inner = _type_text(f.dataType)
            if inner is None or not f.nullable or f.metadata:
                return None
            fields.append("`" + f.name.replace("`", "``") + "`: " + inner)
        return f"STRUCT<{', '.join(fields)}>"
    return dt.simpleString()


def _same_columns(a: StructType, b: StructType) -> bool:
    """Same column names, types and metadata in the same order. Nullability
    is left out: every column reads back from parquet as nullable."""
    def key(s: StructType) -> list:
        return [(f.name, f.dataType.simpleString(), f.metadata) for f in s.fields]

    return key(a) == key(b)


class ManagedTable:
    """A parquet-directory-backed table with DML + RETURNING semantics.

    With ``partition_cols`` set (PG PARTITION BY, lowered to hive-style
    directory partitioning) every write lays data out under
    ``col=value/`` directories and scans prune on partition predicates —
    the declarative half of the 100 TB layout story (bucketBy and
    Z-order live in sources/layout.py). ``schema_ddl`` pins the declared
    schema and column order: partitioned reads otherwise move partition
    columns to the end and cannot infer types from an empty table.

    Scan cache: :meth:`df` keeps one frame per table version. The version
    token is the path plus the listing of the files under it (relative
    name, size, ``mtime_ns``; partition subdirectories included), a
    driver-local ``os.walk`` with no JVM call. While the token matches,
    ``df()`` returns the same frame and runs no Spark job; on a miss it
    builds the scan as a plain read would (parquet schema inference — one
    job — or the pinned DDL schema) and keeps it. The table's own writes (the
    append in :meth:`insert`, the swap in :meth:`commit_staged`) rebind
    the scan under ``table_write_lock`` with the known schema when the
    written columns equal the pre-write relation's, and drop it otherwise
    (ALTER ADD/DROP/RENAME/TYPE), so the next read re-infers. A write by
    another engine or process changes the listing, so the next ``df()``
    re-infers and sees it."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        name: str | None = None,
        partition_cols: "list[str] | None" = None,
        schema_ddl: str | None = None,
    ):
        self.spark = spark
        self.path = path
        self.name = name or os.path.basename(path.rstrip("/"))
        self._staged: str | None = None
        self._staged_schema: StructType | None = None
        self.partition_cols = list(partition_cols or [])
        self.schema_ddl = schema_ddl
        # (version token, frame) of the last scan; see the class docstring
        self._scan: "tuple[tuple, DataFrame] | None" = None

    # -- scan ---------------------------------------------------------------
    def df(self) -> DataFrame:
        token, scan = self._version(), self._scan
        if scan is None or scan[0] != token:
            scan = self._scan = (token, self._read())
        return scan[1]

    def _version(self) -> tuple:
        """The version token: the path plus every file under it."""
        files = []
        for root, _, names in os.walk(self.path):
            for n in names:
                p = os.path.join(root, n)
                try:
                    st = os.stat(p)
                except FileNotFoundError:  # a concurrent swap moved it
                    continue
                rel = os.path.relpath(p, self.path)
                files.append((rel, st.st_size, st.st_mtime_ns))
        return (self.path, tuple(sorted(files)))

    def _read(self, schema: StructType | None = None) -> DataFrame:
        """A fresh scan: with the pinned DDL schema for a partitioned
        table, else with ``schema`` when known, else inferred (one job)."""
        if self.partition_cols and self.schema_ddl:
            schema = StructType.fromDDL(self.schema_ddl)
            return (
                self.spark.read.schema(schema)
                .parquet(self.path)
                .select(*[f.name for f in schema.fields])
            )
        if schema is None:
            return self.spark.read.parquet(self.path)
        return self.spark.read.schema(schema).parquet(self.path)

    def _rebind(self, written: StructType | None) -> None:
        """After this table's own write, under its write lock: keep the
        pre-write schema when ``written`` has the same columns, else drop
        the scan so the next :meth:`df` re-infers."""
        scan = self._scan
        before = scan[1].schema if scan is not None else None
        if before is None or written is None or not _same_columns(before, written):
            self._scan = None
        else:
            self._scan = (self._version(), self._read(before))

    def exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            f.endswith(".parquet") for f in os.listdir(self.path)
        )

    # -- DDL ----------------------------------------------------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        source: DataFrame,
        name: str | None = None,
        partition_cols: "list[str] | None" = None,
    ) -> "ManagedTable":
        """CREATE TABLE AS SELECT (also the matview create path)."""
        writer = source.write.mode("errorifexists")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(path)
        return cls(
            spark, path, name,
            partition_cols=partition_cols,
            schema_ddl=source.schema.toDDL() if partition_cols else None,
        )

    def drop(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        self._scan = None

    # -- DML ----------------------------------------------------------------
    def insert(self, rows: DataFrame, returning: bool = False) -> DataFrame | int:
        """INSERT FROM SELECT / VALUES: append write, with rows aligned AND
        cast to the table schema (a typed table accepts narrower literals —
        reference operator_insert coerces on write). RETURNING = the
        inserted frame (reference returns the inserted rows)."""
        if self.exists():
            rows = rows.select(
                *[
                    F.col(f.name).cast(sql_type(f.dataType)).alias(f.name)
                    for f in self.df().schema.fields
                ]
            )
        seen = Observed(rows, inserted=F.count(F.lit(1)))
        with table_write_lock(self.path):
            # an append keeps the old files: the cached schema holds only
            # if no other writer changed them since this insert read it
            scan = self._scan
            current = scan is not None and scan[0] == self._version()
            writer = seen.df.write.mode("append")
            if self.partition_cols:
                writer = writer.partitionBy(*self.partition_cols)
            writer.parquet(self.path)
            self._rebind(rows.schema if current else None)
        return self.df_of(rows) if returning else seen.get()["inserted"]

    @staticmethod
    def df_of(rows: DataFrame) -> DataFrame:
        return rows

    def stage(self, new_df: DataFrame, *observed: Observed) -> dict:
        """Phase 1 of a swap: materialise ``new_df`` beside the table and
        return the metrics of ``observed`` (built into ``new_df``'s plan),
        which this write took.

        Writing over a path Spark is lazily reading from corrupts the scan;
        write-to-temp + directory swap is the plain-parquet equivalent of a
        transactional commit (Delta's log makes this file-level instead of
        table-level — same API, better asymptotics). Split from
        :meth:`commit_staged` so a multi-table transaction can materialise
        every table before swapping any.
        """
        parent = os.path.dirname(self.path.rstrip("/"))
        tmp = os.path.join(parent, f".{os.path.basename(self.path)}-{uuid.uuid4().hex}")
        writer = new_df.write.mode("errorifexists")
        if self.partition_cols:
            writer = writer.partitionBy(*self.partition_cols)
            self.schema_ddl = new_df.schema.toDDL()
        writer.parquet(tmp)
        self._staged = tmp
        self._staged_schema = new_df.schema
        return _metrics(observed)

    def commit_staged(self) -> None:
        """Phase 2: swap the staged directory in (two renames + cleanup).
        Runs under the table's write lock (``_swap_in`` and COMMIT both
        hold it), so the scan rebinds to exactly the staged files."""
        old = self.path + ".old-" + uuid.uuid4().hex
        os.rename(self.path, old)
        os.rename(self._staged, self.path)
        self._staged = None
        self._rebind(self._staged_schema)
        self._staged_schema = None
        shutil.rmtree(old, ignore_errors=True)

    def _swap_in(self, new_df: DataFrame, *observed: Observed, verify=None) -> dict:
        """Replace the table's rows with ``new_df``: stage → verify →
        commit, under the write lock. ``verify(metrics)`` gets the metrics
        the staged write observed; if it raises, the staged directory is
        deleted and the table is untouched. Returns the metrics."""
        with table_write_lock(self.path):
            metrics = self.stage(new_df, *observed)
            if verify is not None:
                try:
                    verify(metrics)
                except BaseException:
                    shutil.rmtree(self._staged, ignore_errors=True)
                    self._staged = self._staged_schema = None
                    raise
            self.commit_staged()
        return metrics

    def update(
        self,
        cond: Column,
        set_exprs: dict[str, Column],
        returning: bool = False,
        validator=None,
        transform=None,
    ) -> DataFrame | int:
        """UPDATE ... SET ... WHERE cond [RETURNING *].

        The reference evaluates a SET expression tree over matched rows
        (`update_expression.hpp:17-39`). PG semantics: the WHERE predicate
        AND every SET expression are evaluated against the OLD row — so the
        match is materialised once on the pre-update frame and every
        assignment projects in a single ``select`` (chained ``withColumn``
        would leak already-updated values into later SET exprs and re-run
        the WHERE against updated columns). One distributed projection, no
        shuffle.
        """
        # the table's name qualifies the target row, so a correlated
        # subquery in WHERE can reference it (``t.id``)
        flagged = flag_update(self.df().alias(self.name), cond, set_exprs)
        seen = Observed(flagged, updated=F.count_if(F.col("_matched")))
        new_df = seen.df.drop("_matched")
        matched = flagged.filter(F.col("_matched")).drop("_matched")
        if transform is not None:
            # post-SET projection hook (stored generated columns): runs
            # before validation so constraints see the final row values
            new_df, matched = transform(new_df, matched)
        # constraint hook: raises before any state is swapped in, so a
        # violating UPDATE leaves the table untouched (reference
        # autocommit-abort semantics, test_correctness_bugs.cpp:430)
        def verify(_metrics):
            if validator is not None:
                validator(matched, new_df)

        if returning:
            verify(None)
            result = pin(matched)
            self._swap_in(new_df)
            return result
        return self._swap_in(new_df, seen, verify=verify)["updated"]

    # -- ALTER TABLE (reference operator_alter_column_*.cpp) ----------------
    def add_column(self, col_name: str, dtype: str, default: Column | None = None) -> None:
        """ALTER TABLE ADD COLUMN: projection rewrite with NULL (or default)
        backfill — the reference's PHYSICAL_ADD_COLUMN."""
        value = default if default is not None else F.lit(None).cast(dtype)
        self._swap_in(self.df().withColumn(col_name, value))

    def rename_column(self, old: str, new: str) -> None:
        self._swap_in(self.df().withColumnRenamed(old, new))

    def alter_column_type(
        self, col_name: str, dtype: str, using: "Column | None" = None
    ) -> None:
        """ALTER TABLE ALTER COLUMN c TYPE t [USING expr] — PG's column
        rewrite: every row converts through ``using`` (default: a cast of
        the old value) and the statement FAILS if any non-NULL value does
        not convert (PG errors; Spark's non-ANSI cast would silently
        null it, which is a data-loss hazard this guard exists to stop).
        The rewrite is a projection + swap, same shape as add_column."""
        old = F.col(col_name)
        # try_cast, not cast: ANSI mode's cast THROWS mid-count with a raw
        # NumberFormatException; try_cast lets the guard count the
        # offenders and raise the PG-shaped error (and for rows that
        # validated, try_cast == cast by construction)
        src = using if using is not None else old
        new = src.try_cast(dtype)
        df = self.df()
        # a USING expression may legitimately yield NULL (PG accepts
        # e.g. USING nullif(v, 'n/a')) — only a non-NULL USING result
        # whose cast comes back NULL is a conversion failure (ADVICE r8)
        bad = df.filter(src.isNotNull() & new.isNull()).count()
        if bad:
            raise ValueError(
                f"ALTER COLUMN {col_name} TYPE {dtype}: {bad} row(s) "
                "cannot be converted (PG raises; add a USING expression)"
            )
        self._swap_in(df.withColumn(col_name, new))

    def drop_column(self, col_name: str) -> None:
        self._swap_in(self.df().drop(col_name))

    def delete(self, cond: Column, returning: bool = False) -> DataFrame | int:
        """DELETE FROM ... WHERE cond [RETURNING *].

        SQL three-valued logic: only rows where ``cond`` is TRUE are
        deleted — a NULL predicate (e.g. ``x > 5`` with NULL x) KEEPS the
        row, so the survivor filter is ``NOT coalesce(cond, false)``, never
        ``~cond`` (which would silently drop NULL-predicate rows).
        """
        if returning:
            new_df, matched = apply_delete(self.df().alias(self.name), cond)
            result = pin(matched)
            self._swap_in(new_df)
            return result
        # deleted = rows before - rows after, both taken by the write
        before = Observed(self.df().alias(self.name), rows=F.count(F.lit(1)))
        after = Observed(apply_delete(before.df, cond)[0], kept=F.count(F.lit(1)))
        m = self._swap_in(after.df, before, after)
        return m["rows"] - m["kept"]


# -- pure-frame DML (shared by ManagedTable and transaction staging) ---------


def apply_update(
    df: DataFrame, cond: Column, set_exprs: dict[str, Column]
) -> tuple[DataFrame, DataFrame]:
    """PG-semantics UPDATE as a pure transformation: returns
    (updated_frame, matched_rows_post_update)."""
    flagged = flag_update(df, cond, set_exprs)
    matched = flagged.filter(F.col("_matched")).drop("_matched")
    return flagged.drop("_matched"), matched


def flag_update(
    df: DataFrame, cond: Column, set_exprs: dict[str, Column]
) -> DataFrame:
    """The updated frame with a boolean ``_matched`` column marking the
    rows the UPDATE changed. WHERE and all SET expressions evaluate against
    the OLD row (single-select projection)."""
    unknown = [c for c in set_exprs if c not in df.columns]
    if unknown:
        raise ValueError(f"UPDATE SET targets not in table schema: {unknown}")
    current = df.withColumn("_matched", F.coalesce(cond, F.lit(False)))
    # each SET value is cast to its column's type (PG assignment
    # coercion): `v + 1.5` on a decimal(12,2) column must not widen it
    updated = current.select(
        *[
            (
                F.when(F.col("_matched"), set_exprs[f.name])
                .otherwise(F.col(f.name))
                .cast(sql_type(f.dataType))
                .alias(f.name)
                if f.name in set_exprs
                else F.col(f.name)
            )
            for f in df.schema.fields
        ],
        F.col("_matched"),
    )
    return updated


def apply_delete(df: DataFrame, cond: Column) -> tuple[DataFrame, DataFrame]:
    """Three-valued-logic DELETE as a pure transformation: returns
    (surviving_frame, deleted_rows). NULL predicates keep the row."""
    matched = F.coalesce(cond, F.lit(False))
    return df.filter(~matched), df.filter(matched)


# -- constraints (distributed validation joins) ------------------------------


def check_constraint(rows: DataFrame, cond: Column, name: str = "check") -> None:
    """Reference operator_check_constraint: every row must satisfy ``cond``."""
    bad = rows.filter(~cond).count()
    if bad:
        raise ConstraintViolation(f"{name}: {bad} row(s) violate the constraint")


def fk_check(child: DataFrame, parent: DataFrame, child_key: str, parent_key: str) -> None:
    """Reference operator_fk_check: child keys must exist in the parent —
    an anti-join that must come back empty (broadcast when parent is small).
    The keys join by name under a fresh alias: a self-referencing FK passes
    the same cached frame as child and parent, where ``child[...]`` and
    ``parent[...]`` would be one ambiguous column."""
    keys = parent.select(F.col(parent_key).alias("__parent_key"))
    dangling = (
        child.filter(F.col(child_key).isNotNull())
        .join(keys, F.col(child_key) == F.col("__parent_key"), "left_anti")
        .count()
    )
    if dangling:
        raise ConstraintViolation(
            f"fk {child_key} -> {parent_key}: {dangling} dangling row(s)"
        )


def fk_cascade_delete(
    parent_table: ManagedTable,
    child_table: ManagedTable,
    parent_cond: Column,
    child_key: str,
    parent_key: str,
) -> tuple[int, int]:
    """Reference operator_fk_cascade: delete matching parents and their
    children, children first (ordered multi-table delete).

    The doomed-parent key set stays distributed: children are identified by
    a ``left_semi`` join and survivors by a ``left_anti`` join against the
    parent keys — never a driver-side ``collect`` + ``isin`` (a cascade from
    a large parent predicate must not materialise on the driver).
    """
    doomed = (
        parent_table.df()
        .filter(F.coalesce(parent_cond, F.lit(False)))
        .select(F.col(parent_key).alias("__doomed_key"))
        .distinct()
    )
    child = child_table.df()
    on = child[child_key] == doomed["__doomed_key"]
    n_children = child.join(doomed, on, "left_semi").count()
    child_table._swap_in(child.join(doomed, on, "left_anti"))
    n_parents = parent_table.delete(parent_cond)
    return n_parents, n_children


# -- materialized views ------------------------------------------------------


class MaterializedView:
    """Reference create_matview_t: body plan lowered to create + insert;
    REFRESH recomputes and swaps (`node_create_matview.hpp:19-35`). The
    storage is one :class:`ManagedTable`, so reads share its scan cache."""

    def __init__(self, spark: SparkSession, path: str, body):
        self.body = body  # () -> DataFrame
        if not os.path.isdir(path):
            body().write.parquet(path)
        self.table = ManagedTable(spark, path)

    def df(self) -> DataFrame:
        return self.table.df()

    def refresh(self) -> None:
        self.table._swap_in(self.body())


# -- sequences ---------------------------------------------------------------


def with_sequence(df: DataFrame, col_name: str = "id", start: int = 1) -> DataFrame:
    """Reference operator_sequence: assign dense monotonically increasing
    ids via partition-offset renumbering (zipWithIndex semantics, DataFrame
    only):

    1. per-partition row_number ordered by `monotonically_increasing_id`
       (monotonic WITHIN a partition, so this is a local sort, no shuffle
       of the data itself);
    2. per-partition counts -> cumulative offsets (a frame of
       `numPartitions` rows — the only global step runs on metadata-sized
       input, broadcast back);
    3. id = partition_offset + local row_number + start - 1.

    No global single-task window anywhere: the old
    `Window.orderBy(monotonically_increasing_id())` funnelled the whole
    table through one task. Ids are dense and deterministic for a fixed
    partition layout (same caveat as RDD.zipWithIndex).
    """
    from pyspark.sql import Window

    tagged = df.withColumn("_pid", F.spark_partition_id()).withColumn(
        "_mid", F.monotonically_increasing_id()
    )
    counts = tagged.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    cum = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_cnt").over(cum), F.lit(0)).alias("_off")
    )
    local = Window.partitionBy("_pid").orderBy("_mid")
    return (
        tagged.join(F.broadcast(offsets), "_pid")
        .withColumn(
            col_name,
            (F.row_number().over(local) + F.col("_off") + F.lit(start - 1)).cast("long"),
        )
        .drop("_pid", "_mid", "_off")
    )
