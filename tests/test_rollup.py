"""Continuous-aggregate maintenance: after any build + refresh sequence
the rollup must equal the full one-shot aggregate, and a refresh must be
O(delta) — touched buckets only, with the time-range predicate pushed to
the source scan."""

from __future__ import annotations

import math
import os
import tempfile

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from otterbrix_spark.operators.rollup import (
    CoarsenedAggregate, ContinuousAggregate, _aggregate, _bucketed,
)
from otterbrix_spark.sources.registry import load_table


def _full(events, bucket_hours=1):
    return _aggregate(_bucketed(events, bucket_hours))


def _as_dict(df):
    return {
        (r["bucket_us"], r["event_type"]): (r["n"], r["qsum"])
        for r in df.collect()
    }


def test_incremental_refresh_equals_full_rebuild(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    cutoff = ev.agg(
        F.expr("percentile_approx(unix_micros(CAST(ts AS TIMESTAMP)), 0.9)")
    ).collect()[0][0]
    early = ev.filter(F.unix_micros(F.col("ts").cast("timestamp")) < cutoff)
    late = ev.filter(F.unix_micros(F.col("ts").cast("timestamp")) >= cutoff)

    ca = ContinuousAggregate(spark, str(tmp_path / "rollup"), bucket_hours=1)
    ca.build(early)
    touched = ca.refresh(source=ev, delta=late)
    assert touched  # the late slice touches at least one bucket

    assert _as_dict(ca.df()) == _as_dict(_full(ev))


def test_refresh_touches_only_delta_partitions(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "rollup2")
    ca = ContinuousAggregate(spark, path, bucket_hours=1)
    ca.build(ev)
    before = {
        d: os.path.getmtime(os.path.join(path, d))
        for d in os.listdir(path)
        if d.startswith("chunk_us=")
    }
    assert len(before) > 1  # multi-chunk table, so "only touched" is real
    # a delta confined to the single latest bucket
    last_bucket = (
        _bucketed(ev, 1).agg(F.max("bucket_us")).collect()[0][0]
    )
    delta = _bucketed(ev, 1).filter(F.col("bucket_us") == last_bucket).drop(
        "bucket_us"
    )
    touched = ca.refresh(source=ev, delta=delta)
    assert touched == [last_bucket]
    after = {
        d: os.path.getmtime(os.path.join(path, d))
        for d in os.listdir(path)
        if d.startswith("chunk_us=")
    }
    # round-14: the stored layout is day-level chunks (guide §6); only the
    # chunk CONTAINING the touched bucket may be rewritten
    rewritten = {d for d in before if after[d] != before[d]}
    assert rewritten == {f"chunk_us={ca._chunk_of(last_bucket)}"}
    # still equal to the full aggregate
    assert _as_dict(ca.df()) == _as_dict(_full(ev))


def test_refresh_pushes_time_range_to_source_scan(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    ca = ContinuousAggregate(spark, str(tmp_path / "rollup3"), bucket_hours=1)
    ca.build(ev)
    bucket_us = 3_600_000_000
    last = _bucketed(ev, 1).agg(F.max("bucket_us")).collect()[0][0]
    src = ev.filter(
        (F.col("ts").cast("timestamp") >= F.timestamp_micros(F.lit(last)))
        & (
            F.col("ts").cast("timestamp")
            < F.timestamp_micros(F.lit(last + bucket_us))
        )
    )
    plan = src._sc._jvm.PythonSQLUtils.explainString(
        src._jdf.queryExecution(), "formatted"
    )
    # the refresh's range filter must reach the parquet scan
    assert "PushedFilters:" in plan
    assert "ts" in plan.split("PushedFilters:")[1].split("\n")[0]


def test_refresh_retracts_emptied_bucket(spark, tmp_path):
    """A touched bucket whose recompute yields zero rows must disappear
    from the rollup (dynamic overwrite alone cannot retract a partition)."""
    from pyspark.sql import Row

    path = str(tmp_path / "rollup3")
    rows = [
        Row(ts="2024-01-01 00:10:00", event_type="view", value=1.0),
        Row(ts="2024-01-01 01:10:00", event_type="view", value=2.0),
    ]
    ev = spark.createDataFrame(rows)
    ca = ContinuousAggregate(spark, path, bucket_hours=1)
    ca.build(ev)
    assert len(_as_dict(ca.df())) == 2
    # upstream deleted every row in hour-1; source now holds only hour-0
    source = spark.createDataFrame([rows[0]])
    delta = spark.createDataFrame([rows[1]])  # the touched (now-empty) bucket
    ca.refresh(source=source, delta=delta)
    got = _as_dict(ca.df())
    assert len(got) == 1  # hour-1's stale partition is gone, not surviving


def test_refresh_composes_with_mvcc_snapshot(spark, sf_dir, tmp_path):
    """VERDICT r5 Next #8: a writer committing DURING a refresh must not
    tear the rollup — the refresh reads its pinned snapshot; the next
    refresh_from picks up the later commit."""
    from otterbrix_spark.operators.mvcc import VersionedTable

    ev = load_table(spark, sf_dir, "events").orderBy("event_id")
    n = ev.count()
    p1 = ev.limit(n // 3)
    p2 = ev.limit(2 * n // 3)  # superset of p1 (append-only growth)
    p3 = ev

    vt = VersionedTable.create(spark, str(tmp_path / "vt_events"), p1)
    ca = ContinuousAggregate(spark, str(tmp_path / "rollup_mvcc"), bucket_hours=1)
    ca.build(vt.df())
    assert _as_dict(ca.df()) == _as_dict(_full(p1))

    # commit v2, pin its snapshot (as refresh_from would), then a second
    # writer lands v3 BEFORE the refresh job runs — the interleaving the
    # MVCC layer must absorb
    w = vt.begin()
    v2 = w.commit(p2)
    pinned_version, pinned = vt.snapshot()
    assert pinned_version == v2
    w2 = vt.begin()
    v3 = w2.commit(p3)
    assert v3 == v2 + 1

    delta_v2 = pinned.join(
        vt.as_of(1).select("event_id"), "event_id", "left_anti"
    )
    touched = ca.refresh(source=pinned, delta=delta_v2)
    assert touched
    # the refresh saw v2's snapshot, consistently — and NOT v3's rows,
    # even though v3 committed before the refresh executed
    assert _as_dict(ca.df()) == _as_dict(_full(p2))

    # the next refresh_from catches the table up to v3
    ver, touched3 = ca.refresh_from(vt, base_version=v2)
    assert ver == v3 and touched3
    assert _as_dict(ca.df()) == _as_dict(_full(p3))

    # idempotent: nothing new since v3
    ver_again, touched_again = ca.refresh_from(vt, base_version=v3)
    assert ver_again == v3 and touched_again == []


_HOUR = 3_600_000_000


def _expected(rows, bucket_us: int) -> dict:
    """The full aggregate computed on the driver: buckets floor, as a
    time bucket does on either side of 1970."""
    out: dict = {}
    for us, et, value in rows:
        n, q = out.get((us // bucket_us * bucket_us, et), (0, 0))
        out[(us // bucket_us * bucket_us, et)] = (n + 1, q + math.floor(value * 10000.0))
    return out


@given(
    rows=st.lists(
        st.tuples(
            # three days before 1970 to one day after, so buckets and day
            # chunks fall on both sides of zero
            st.integers(-3 * 24 * _HOUR, 24 * _HOUR),
            st.sampled_from(["view", "click"]),
            st.integers(0, 64).map(lambda i: i / 8),
        ),
        min_size=1,
        max_size=40,
    ),
    cut=st.floats(0, 1),
)
@settings(max_examples=12, deadline=None)
def test_build_and_refresh_equal_full_aggregate_before_1970(spark, rows, cut):
    """Build over a prefix of the rows, then refresh with the rest: the
    hourly rollup and the daily rollup refreshed from it equal the full
    aggregate, for timestamps before and after 1970."""
    k = max(1, int(len(rows) * cut))

    def frame(rs):
        return spark.createDataFrame(
            rs, "us long, event_type string, value double"
        ).withColumn("ts", F.timestamp_micros("us"))

    with tempfile.TemporaryDirectory(prefix="rollup-") as base:
        hourly = ContinuousAggregate(spark, os.path.join(base, "h"), bucket_hours=1)
        daily = CoarsenedAggregate(spark, os.path.join(base, "d"), bucket_hours=24)
        hourly.build(frame(rows[:k]))
        daily.build(hourly.df())
        touched = hourly.refresh(source=frame(rows), delta=frame(rows[k:]))
        daily.refresh(hourly.df(), touched)

        assert _as_dict(hourly.df()) == _expected(rows, _HOUR)
        got_daily = {
            (r["coarse_us"], r["event_type"]): (r["n"], r["qsum"])
            for r in daily.df().collect()
        }
        assert got_daily == _expected(rows, 24 * _HOUR)
