"""The ``statements`` workload: a seeded PG-dialect statement stream over
managed tables, and its replay on DuckDB.

The stream runs in blocks of ten statements, seven reads and three writes,
in a seeded order inside each block. Reads cover point and range lookups,
group-bys, ``::`` casts, ``EXTRACT``, ``$n`` parameters, a join and a view.
Writes alternate between two triples per block: ``INSERT VALUES``,
``UPDATE ... RETURNING`` and a two-row ``DELETE``; then ``UPDATE ... FROM``,
``MERGE INTO`` and a ``BEGIN ... COMMIT`` block that inserts and updates.
Every two blocks insert two rows and delete two, so the table keeps its
size. The stream is a function of the seed and the corpus sizes alone.

Each statement carries the DuckDB statements that replay it and what to
compare: the result rows, the affected-row count, or nothing (the final
table comparison covers it).
"""

from __future__ import annotations

import random
from collections import deque
from dataclasses import dataclass
from decimal import Decimal

# managed tables and the view the stream runs on, created through the
# engine at set-up; DuckDB runs the same statements over the same corpus
SETUP_SQL = (
    "CREATE TABLE bo AS SELECT * FROM orders",
    "CREATE TABLE bc AS SELECT c_custkey, c_mktsegment, c_nationkey FROM customer",
    "CREATE TABLE bo_delta AS SELECT o_orderkey, 1.25 AS bump FROM orders "
    "WHERE o_orderkey % 500 = 7",
    "CREATE VIEW bo_urgent AS SELECT o_orderkey, o_custkey, o_totalprice "
    "FROM bo WHERE o_orderpriority = '1-URGENT'",
)

_STATUSES = ("F", "O", "P")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_WRITES = ("insert", "update_returning", "delete", "update_from", "merge", "txn")
READS_PER_BLOCK, WRITES_PER_BLOCK = 7, 3


@dataclass(frozen=True)
class Stmt:
    kind: str  # "read" | "write"
    shape: str
    sql: str
    params: tuple
    duck: tuple  # DuckDB statements; the last one's result is compared
    expect: str  # "rows" | "count" | "none"


def _date(rng: random.Random) -> str:
    return f"{rng.randint(1995, 2000)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"


class StreamGen:
    """Generates the statement stream block by block. Keeps a model of the
    keys it inserted so deletes remove them again first-in first-out."""

    def __init__(self, seed: int, n_orders: int, n_customers: int):
        self.rng = random.Random(seed)
        self.n_orders, self.n_cust = n_orders, n_customers
        self.next_key = n_orders + 1_000_000
        self.inserted: deque[int] = deque()
        self.block = 0

    def _key(self) -> int:
        return self.rng.randrange(self.n_orders)

    def _cust(self) -> int:
        return self.rng.randrange(self.n_cust)

    def _read(self, shape: str) -> Stmt:
        rng = self.rng
        if shape == "point":
            sql, params = "SELECT * FROM bo WHERE o_orderkey = $1", (self._key(),)
        elif shape == "cust_recent":
            sql = ("SELECT o_orderkey, o_orderpriority FROM bo WHERE o_custkey = $1 "
                   "ORDER BY o_orderkey DESC LIMIT 5")
            params = (self._cust(),)
        elif shape == "range_cast":
            d = _date(rng)
            sql = (f"SELECT o_orderkey, o_totalprice::numeric(12,2) AS price, "
                   f"o_custkey::varchar(12) AS cust FROM bo WHERE o_orderdate >= '{d}'::date "
                   f"AND o_orderdate < '{d}'::date + INTERVAL '5 days'")
            params = ()
        elif shape == "group_by":
            sql = ("SELECT o_orderstatus, count(*) AS n, max(o_totalprice) AS mx "
                   "FROM bo WHERE o_custkey < $1 GROUP BY o_orderstatus")
            params = (self._cust(),)
        elif shape == "extract":
            lo = self._cust()
            sql = ("SELECT EXTRACT(YEAR FROM o_orderdate)::int AS y, count(*) AS n "
                   "FROM bo WHERE o_custkey BETWEEN $1 AND $2 GROUP BY 1")
            params = (lo, lo + 20)
        elif shape == "view":
            sql = ("SELECT count(*) AS n, max(o_totalprice) AS mx FROM bo_urgent "
                   "WHERE o_custkey < $1")
            params = (self._cust(),)
        else:  # join
            d = _date(rng)
            sql = (f"SELECT c.c_mktsegment, count(*) AS n FROM bo JOIN bc c "
                   f"ON bo.o_custkey = c.c_custkey WHERE bo.o_orderdate >= '{d}'::date "
                   f"AND c.c_nationkey = $1 GROUP BY c.c_mktsegment")
            params = (rng.randrange(25),)
        return Stmt("read", shape, sql, params, (sql,), "rows")

    def _row_literal(self, key: int) -> str:
        rng = self.rng
        return (f"({key}, {self._cust()}, '{rng.choice(_STATUSES)}', "
                f"{round(rng.uniform(1000, 500000), 2)}, "
                f"'{_date(rng)} 00:00:00'::timestamp, '{rng.choice(_PRIORITIES)}')")

    def _new_key(self) -> int:
        key = self.next_key
        self.next_key += 1
        self.inserted.append(key)
        return key

    def _write(self, shape: str) -> Stmt:
        rng = self.rng
        if shape == "insert":
            sql = f"INSERT INTO bo VALUES {self._row_literal(self._new_key())}"
            return Stmt("write", shape, sql, (), (sql,), "count")
        if shape == "update_returning":
            sql = ("UPDATE bo SET o_totalprice = o_totalprice + 1.5 "
                   "WHERE o_orderkey = $1 RETURNING o_orderkey, o_totalprice")
            return Stmt("write", shape, sql, (self._key(),), (sql,), "rows")
        if shape == "delete":
            keys = [self.inserted.popleft() if self.inserted else self._key()
                    for _ in range(2)]
            sql = "DELETE FROM bo WHERE o_orderkey IN ($1, $2)"
            return Stmt("write", shape, sql, tuple(keys), (sql,), "count")
        if shape == "update_from":
            sql = ("UPDATE bo SET o_orderstatus = $1 FROM bc "
                   "WHERE bo.o_custkey = bc.c_custkey AND bc.c_custkey = $2")
            params = (rng.choice(_STATUSES), self._cust())
            return Stmt("write", shape, sql, params, (sql,), "count")
        if shape == "merge":
            sql = ("MERGE INTO bo t USING bo_delta s ON t.o_orderkey = s.o_orderkey "
                   "WHEN MATCHED THEN UPDATE SET o_totalprice = t.o_totalprice + s.bump")
            duck = ("UPDATE bo SET o_totalprice = bo.o_totalprice + s.bump "
                    "FROM bo_delta s WHERE bo.o_orderkey = s.o_orderkey")
            return Stmt("write", shape, sql, (), (duck,), "count")
        # txn: one staged insert and one staged update, published at COMMIT
        parts = (
            "BEGIN",
            f"INSERT INTO bo VALUES {self._row_literal(self._new_key())}",
            f"UPDATE bo SET o_totalprice = o_totalprice - 1.0 WHERE o_orderkey = {self._key()}",
            "COMMIT",
        )
        return Stmt("write", shape, "; ".join(parts), (), parts, "none")

    def next_block(self) -> list[Stmt]:
        """The next ten statements: seven reads and three writes."""
        reads = ["point", "cust_recent", "range_cast", "group_by", "extract", "view", "join"]
        start = WRITES_PER_BLOCK * (self.block % 2)
        shapes = reads + list(_WRITES[start:start + WRITES_PER_BLOCK])
        self.rng.shuffle(shapes)
        self.block += 1
        return [self._read(s) if s in reads else self._write(s) for s in shapes]


def _norm(v):
    if isinstance(v, (int, float, Decimal)) and not isinstance(v, bool):
        return float(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def canon(rows) -> list[tuple]:
    """Order-insensitive, type-normalised form of a result for comparison."""
    return sorted((tuple(_norm(x) for x in r) for r in rows), key=repr)


def duck_setup(con, sf_dir: str) -> None:
    for t in ("orders", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    for sql in SETUP_SQL:
        con.execute(sql)


def replay(con, stmt: Stmt) -> tuple[list[tuple], int]:
    """Run one statement's DuckDB replay. Returns the last statement's rows
    and the number of rows the statement inserted, updated or deleted."""
    rows: list[tuple] = []
    changed = 0
    for sql in stmt.duck:
        rows = con.execute(sql, list(stmt.params) if "$" in sql else None).fetchall()
        if sql.startswith(("INSERT", "UPDATE", "DELETE")):
            changed += len(rows) if "RETURNING" in sql else int(rows[0][0])
    return rows, changed


def matches(stmt: Stmt, got: list[tuple], want: list[tuple]) -> bool:
    if stmt.expect == "none":
        return True
    if stmt.expect == "count":
        return len(got) == 1 and len(want) == 1 and _norm(got[0][0]) == _norm(want[0][0])
    return canon(got) == canon(want)
