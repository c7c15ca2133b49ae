"""The two benchmark workloads. Each is a closed loop with one client.

* ``headline`` loads execution and result transfer and bypasses the
  statement front end: the registry's ``bench=True`` gates at sf0.1 over the
  ``persist_clustered`` cache, in a seeded order each round, results taken
  by ``.collect()`` and compared with each gate's DuckDB oracle.
* ``statements`` loads the PG-statement path (``dialect`` rewrite,
  ``catalog`` routing and its pins, ``operators/dml``'s read-rewrite-swap)
  and keeps Spark execution small: a seeded stream of reads and writes
  through ``Engine.execute_sql`` on managed copies of sf0.01 tables,
  replayed on DuckDB statement by statement.

Every workload is built as ``Workload(seed, sf_dir, nproc, work_dir)``. A
workload's ``setup`` is the program's set-up, timed as ``setup_s``;
``warm`` runs checked rounds before timing and returns their checks;
``next_round`` yields the ops of one round and ``execute`` runs one op
inside the timed region, opening spans on the tracer it is given (a no-op
tracer when untraced).
"""

from __future__ import annotations

import os
import random
import shutil
import time
from contextlib import nullcontext

from perfbench import statements as st


class NullTracer:
    def span(self, name: str):
        return nullcontext()


class _Collected:
    """A collected result in the shape ``tests.oracle.compare`` reads."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


def _oracle_matches(result, oracle: str | None, sf_dir: str, name: str) -> bool:
    if oracle is None:
        return True
    from tests.oracle import compare

    try:
        compare(result, oracle, sf_dir, name)
    except AssertionError:
        return False
    return True


class Headline:
    sf = 0.1

    def __init__(self, seed: int, sf_dir: str, nproc: int, work_dir: str):
        from otterbrix_spark.workload import load_all

        self.rng = random.Random(seed)
        self.sf_dir, self.nproc = sf_dir, nproc
        self.specs = {n: s for n, s in load_all().items() if s.bench}
        self.names = sorted(self.specs)
        self.verified: dict[str, tuple] = {}

    def session_kwargs(self) -> dict:
        # bench.py's session shape: shuffle width and input split size
        # derived from corpus bytes and core count
        corpus = sum(
            os.path.getsize(os.path.join(self.sf_dir, f))
            for f in os.listdir(self.sf_dir) if f.endswith(".parquet")
        )
        split = max(1 << 20, min(128 << 20, corpus // (2 * self.nproc)))
        return {
            "shuffle_partitions": max(8, min(self.nproc, corpus // (64 << 20))),
            "extra_conf": {"spark.sql.files.maxPartitionBytes": str(split)},
        }

    def setup(self, spark) -> dict:
        from otterbrix_spark.sources.registry import TABLES, load_table, persist_clustered

        self.spark = spark
        start = time.perf_counter()
        persist_clustered(spark, self.sf_dir)
        for table in TABLES:
            load_table(spark, self.sf_dir, table).count()
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return {
            "registry.persist_s": time.perf_counter() - start,
            "registry.cached_bytes": float(sum(i.memSize() + i.diskSize() for i in infos)),
        }

    def warm(self) -> list[bool]:
        return [self.check(n, self.execute(n, NullTracer())[1]) for n in self.names]

    def next_round(self) -> list[str]:
        order = list(self.names)
        self.rng.shuffle(order)
        return order

    def kind(self, op: str) -> str:
        return "read"

    def execute(self, op: str, tr):
        t0 = time.perf_counter()
        with tr.span("op"):
            with tr.span("workload.build"):
                df = self.specs[op].spark_fn(self.spark, self.sf_dir)
            with tr.span("cursor.collect"):
                rows = df.collect()
        return time.perf_counter() - t0, (df, rows)

    def check(self, op: str, result) -> bool:
        """Compare with the gate's oracle; a result equal, as a multiset of
        rows, to one the oracle already accepted passes without re-running
        the comparison."""
        df, rows = result
        digest = (len(rows), sum(hash(tuple(r)) for r in rows))
        if self.verified.get(op) == digest:
            return True
        ok = _oracle_matches(_Collected(df.columns, rows), self.specs[op].oracle, self.sf_dir, op)
        if ok:
            self.verified[op] = digest
        return ok

    def rows(self, result) -> int:
        return len(result[1])

    def noop_probe(self) -> dict[str, tuple[float, float]]:
        """Per gate, the time of a fresh build's execution into the noop
        sink and of a fresh build's collect. An untimed noop run goes first:
        of two back-to-back executions of a gate, the first was about 0.3 s
        slower (sf0.1, 4 cores), which would otherwise land on one side."""
        out = {}
        for name in self.names:
            times = []
            for sink in ("noop", "noop", "collect"):
                df = self.specs[name].spark_fn(self.spark, self.sf_dir)
                t0 = time.perf_counter()
                if sink == "noop":
                    df.write.format("noop").mode("overwrite").save()
                else:
                    df.collect()
                times.append(time.perf_counter() - t0)
            out[name] = (times[1], times[2])
        return out


class Statements:
    sf = 0.01

    def __init__(self, seed: int, sf_dir: str, nproc: int, work_dir: str):
        import pyarrow.parquet as pq

        self.sf_dir, self.table_dir = sf_dir, os.path.join(work_dir, "tables")
        n_orders = pq.ParquetFile(os.path.join(sf_dir, "orders.parquet")).metadata.num_rows
        n_cust = pq.ParquetFile(os.path.join(sf_dir, "customer.parquet")).metadata.num_rows
        self.gen = st.StreamGen(seed, n_orders, n_cust)
        self.duck = None
        self.last_changed = 0

    def session_kwargs(self) -> dict:
        return {}

    def setup(self, spark) -> dict:
        from otterbrix_spark.engine import Engine

        shutil.rmtree(self.table_dir, ignore_errors=True)
        self.spark = spark
        self.engine = Engine(spark, self.table_dir)
        self.engine.register_corpus(self.sf_dir)
        for sql in st.SETUP_SQL:
            self.engine.execute_sql(sql).fetchall()
        return {}

    def _duck(self):
        if self.duck is None:
            import duckdb

            self.duck = duckdb.connect()
            st.duck_setup(self.duck, self.sf_dir)
        return self.duck

    def warm(self) -> list[bool]:
        """Three checked rounds. The JIT keeps speeding the stream up for
        about two minutes (sf0.01, 4 cores: a round took 7.5 s first, 6 s
        by the third and 5.5 s by the tenth); with one warm-up round the
        timed rounds sat on the steep part of that curve, and a run's
        figures followed how fast the host let the JIT get there."""
        return [self.check(s, self.execute(s, NullTracer())[1])
                for _ in range(3) for s in self.next_round()]

    def next_round(self) -> list:
        """Two blocks, so every round holds each write shape once."""
        return self.gen.next_block() + self.gen.next_block()

    def kind(self, op) -> str:
        return op.kind

    def execute(self, op, tr):
        t0 = time.perf_counter()
        with tr.span("op"):
            with tr.span("engine.execute_sql"):
                cur = self.engine.execute_sql(op.sql, *op.params)
            with tr.span("cursor.fetch"):
                rows = cur.fetchall()
        return time.perf_counter() - t0, (cur.df, rows)

    def check(self, op, result) -> bool:
        want, self.last_changed = st.replay(self._duck(), op)
        return st.matches(op, result[1], want)

    def rows(self, result) -> int:
        return len(result[1])

    def final_check(self) -> bool:
        """The managed table's final contents against DuckDB's."""
        got = self.engine.execute_sql("SELECT * FROM bo").fetchall()
        want = self._duck().execute("SELECT * FROM bo").fetchall()
        return st.canon(got) == st.canon(want)

    def close(self) -> None:
        if self.duck is not None:
            self.duck.close()
