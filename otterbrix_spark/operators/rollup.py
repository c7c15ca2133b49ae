"""Continuous aggregate — an incrementally-maintained time-bucket rollup
(the TimescaleDB continuous-aggregate / materialized hypertable-rollup
pattern) on partitioned parquet.

The maintained state is a parquet table PARTITIONED BY day-level CHUNK
(the TimescaleDB chunk split; bucket rows are data inside their chunk);
``refresh`` recomputes ONLY the chunks a delta touches and swaps those
partitions in via dynamic partition overwrite — the untouched history is
never rewritten or rescanned. At 100 TB of history with a trickle of late
data this is the difference between an O(delta) maintenance job and an
O(history) one:

* touched-bucket discovery is an aggregate over the DELTA only (small);
* the recompute scans the SOURCE filtered to touched chunks — a pushed
  time-range predicate, so row-group pruning applies (and partition
  pruning when the source itself is time-partitioned);
* the write replaces exactly the touched partition directories
  (``partitionOverwriteMode=dynamic``), an O(touched) commit — and the
  chunk granularity keeps the directory/file count 24x below
  one-dir-per-bucket (guide §6: a century of hourly buckets must not be
  876k directories).

Invariant (tested + oracle-gated): after any build + refresh sequence the
table equals the full one-shot aggregate over the complete source.

Reference anchor: the closest reference facility is materialized views
with full refresh (`operator_create_matview.cpp`, SURVEY.md §2.10);
incremental bucket-level maintenance is the extension this engine adds —
the capability a time-series deployment of the reference would reach for
first.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

_Q = 10000.0


def _floor_to(col: str, unit_us: int) -> Column:
    """``col`` rounded down to a multiple of ``unit_us``, exact in BIGINT.
    Floor, like Python's ``//`` on the driver side: SQL ``DIV`` truncates
    toward zero, so before 1970 it would put a time in the bucket above
    the one the driver computes for it."""
    return F.expr(f"{col} - pmod({col}, {unit_us})")


def _bucketed(events: DataFrame, bucket_hours: int) -> DataFrame:
    bucket_us = bucket_hours * 3_600_000_000
    return events.withColumn(
        "bucket_us", _floor_to("unix_micros(CAST(ts AS TIMESTAMP))", bucket_us)
    )


def _aggregate(bucketed: DataFrame, group_col: str = "event_type") -> DataFrame:
    q = F.floor(F.col("value") * F.lit(_Q)).cast("long")
    return bucketed.groupBy("bucket_us", group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("qsum"),
    )


# Partition-directory granularity (hours). Round-14 (guide §6): the stored
# layout used ONE DIRECTORY PER BUCKET — at hourly buckets that is a
# partition dir of a few rows per hour of history (measured: 500 one-file
# dirs for 1000 source rows; the build write spent ~17s in per-file writer
# setup + per-dir commits, and a century of history would hold ~876k
# directories). Directories are now day-level CHUNKS (the TimescaleDB
# chunk split) holding the hourly bucket rows as DATA; maintenance swaps
# touched chunks — still O(delta), with 24x fewer directories and files.
_CHUNK_HOURS = 24


class ContinuousAggregate:
    """Parquet-backed rollup of the events schema per
    (time bucket, event_type), maintained incrementally. Stored
    partitioned by day-level chunk (``chunk_us``); ``bucket_us`` is a
    data column inside each chunk."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        bucket_hours: int = 1,
        group_col: str = "event_type",
        chunk_hours: int | None = None,
    ):
        self.spark = spark
        self.path = path
        self.bucket_hours = bucket_hours
        # the non-time grouping dimension; a JOIN-enriched rollup (h04)
        # passes a dimension attribute here and pre-joined source frames —
        # the bucket-maintenance machinery is agnostic to where the group
        # column came from
        self.group_col = group_col
        self.chunk_hours = chunk_hours or max(bucket_hours, _CHUNK_HOURS)
        self.chunk_us = self.chunk_hours * 3_600_000_000

    def _chunk_of(self, bucket: int) -> int:
        return int(bucket) // self.chunk_us * self.chunk_us

    def _chunked(self, agg: DataFrame) -> DataFrame:
        return agg.withColumn("chunk_us", _floor_to("bucket_us", self.chunk_us))

    def build(self, source: DataFrame) -> None:
        """Full (re)build: one aggregate over the source, written
        partitioned by chunk so later refreshes can swap chunks."""
        agg = self._chunked(
            _aggregate(_bucketed(source, self.bucket_hours), self.group_col)
        )
        (
            agg.repartition("chunk_us")
            .write.mode("overwrite")
            .partitionBy("chunk_us")
            .parquet(self.path)
        )

    def refresh(self, source: DataFrame, delta: DataFrame) -> list[int]:
        """Incremental maintenance: recompute ONLY the chunks whose buckets
        ``delta`` touches, from ``source`` (which must already contain the
        delta rows), and overwrite exactly those partitions. Returns the
        touched bucket ids."""
        touched = [
            r["bucket_us"]
            for r in _bucketed(delta, self.bucket_hours)
            .select("bucket_us")
            .distinct()
            .collect()  # one tiny driver list: #touched buckets
        ]
        if not touched:
            return []
        chunks = sorted({self._chunk_of(b) for b in touched})
        lo, hi = min(chunks), max(chunks) + self.chunk_us
        # time-range pushdown to the source scan; exact chunk membership
        # re-checked after bucketing (the range may span untouched chunks)
        src = source.filter(
            (F.col("ts").cast("timestamp") >= F.timestamp_micros(F.lit(lo)))
            & (F.col("ts").cast("timestamp") < F.timestamp_micros(F.lit(hi)))
        )
        agg = self._chunked(
            _aggregate(_bucketed(src, self.bucket_hours), self.group_col)
        ).filter(F.col("chunk_us").isin(chunks))
        # persisted so the retraction check below reuses the computed
        # aggregate instead of re-scanning the source range
        agg = agg.persist()
        try:
            # per-write option, not session conf: mutating the session-global
            # partitionOverwriteMode races with any concurrent writer in the
            # same session
            (
                agg.repartition("chunk_us")
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("chunk_us")
                .parquet(self.path)
            )
            # Retraction: dynamic overwrite only rewrites partitions PRESENT
            # in the output — a touched chunk whose recompute yields zero
            # rows (all its rows deleted upstream) would silently keep its
            # stale partition. Delete those partition dirs explicitly.
            produced = {
                r["chunk_us"]
                for r in agg.select("chunk_us").distinct().collect()
            }
            for c in chunks:
                if c not in produced:
                    shutil.rmtree(
                        os.path.join(self.path, f"chunk_us={c}"),
                        ignore_errors=True,
                    )
        finally:
            agg.unpersist()
        return sorted(touched)

    def refresh_from(
        self, table, base_version: int, key_col: str = "event_id"
    ) -> tuple[int, list[int]]:
        """Refresh against a ``VersionedTable`` (operators/mvcc.py): pin the
        CURRENT snapshot, derive the append-delta since ``base_version``
        (anti-join on ``key_col``), and refresh from the pinned snapshot.

        The whole recompute reads the pinned version DIRECTORY, so writers
        committing new versions mid-refresh cannot tear the result — the
        rollup lands on exactly the pinned version's aggregate (MVCC
        repeatable read composing with incremental maintenance). Returns
        (pinned_version, touched_buckets); call again with the returned
        version as ``base_version`` to pick up later commits.

        The delta anti-join shuffles on the key; an append-only source
        with a monotone ts could prune with a watermark instead. APPEND
        deltas only: an in-place update/delete keeps (or removes) its key,
        so it would not surface here — versions that mutate history need a
        content-level diff or a full rebuild of the affected range.
        """
        version, snap = table.snapshot()
        if version == base_version:
            return version, []
        base_keys = table.as_of(base_version).select(key_col)
        delta = snap.join(base_keys, key_col, "left_anti")
        touched = self.refresh(source=snap, delta=delta)
        return version, touched

    def df(self) -> DataFrame:
        # chunk_us is physical layout, not part of the rollup's schema
        return self.spark.read.parquet(self.path).drop("chunk_us")


class CoarsenedAggregate:
    """A coarser rollup maintained FROM a finer ``ContinuousAggregate``
    table (hourly -> daily), forming a refresh CHAIN: the daily level is
    recomputed from the HOURLY table — never from the raw source — so a
    delta that touches k hourly buckets costs a scan of the touched DAYS'
    hourly rows (tens of rows), not a rescan of the events history. This
    is TimescaleDB's hierarchical continuous aggregate; the reference's
    closest facility is again full-refresh matviews (SURVEY.md §2.10).

    The counts/sums are decomposable aggregates, so the coarse level sums
    the fine level's partials exactly (the same map-side-combine algebra
    Spark itself uses inside one aggregate)."""

    def __init__(self, spark: SparkSession, path: str, bucket_hours: int = 24):
        self.spark = spark
        self.path = path
        self.bucket_hours = bucket_hours

    def _coarsen(self, fine: DataFrame) -> DataFrame:
        bucket_us = self.bucket_hours * 3_600_000_000
        day = _floor_to("CAST(bucket_us AS BIGINT)", bucket_us)
        return (
            fine.groupBy(day.alias("coarse_us"), "event_type")
            .agg(F.sum("n").alias("n"), F.sum("qsum").alias("qsum"))
        )

    def build(self, fine: DataFrame) -> None:
        (
            self._coarsen(fine)
            .repartition("coarse_us")
            .write.mode("overwrite")
            .partitionBy("coarse_us")
            .parquet(self.path)
        )

    def refresh(self, fine: DataFrame, touched_fine: list[int]) -> list[int]:
        """Recompute only the coarse buckets containing ``touched_fine``
        (the fine level's touched-bucket list from its own refresh).
        Reads the fine TABLE filtered to those coarse ranges — partition
        pruning on the fine table's bucket_us partitioning."""
        if not touched_fine:
            return []
        bucket_us = self.bucket_hours * 3_600_000_000
        touched = sorted({int(b) // bucket_us * bucket_us for b in touched_fine})
        members = [
            b
            for day in touched
            for b in range(day, day + bucket_us, 3_600_000_000)
        ]
        # bucket_us is a data column of the chunk-partitioned fine table
        # since round 14; the isin prunes row groups via min/max stats
        # (the touched day-chunks are exactly the coarse buckets here)
        src = fine.filter(F.col("bucket_us").isin(members))
        agg = self._coarsen(src).filter(F.col("coarse_us").isin(touched))
        (
            agg.repartition("coarse_us")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("coarse_us")
            .parquet(self.path)
        )
        return touched

    def df(self) -> DataFrame:
        return self.spark.read.parquet(self.path)
