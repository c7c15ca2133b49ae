"""Oracle gates for the temporal join operators (operators/temporal.py):
as-of join and bounded-interval range join.

The DuckDB oracles use the NATIVE formulations (ASOF JOIN; plain BETWEEN
inequality join) while the Spark implementations use the scale-stable
reformulations (union+window sweep; bucket-expansion equi-join) — the
hash match proves the reformulations compute identical results, and plan
audits prove no nested-loop plan survives."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from otterbrix_spark.operators.temporal import as_of_join, interval_join
from otterbrix_spark.sources.registry import load_table
from otterbrix_spark.workload import query

# aj01: for every click, the most recent view of the same user at-or-before
# the click (the kdb `aj` / TimescaleDB ASOF shape). Aggregated per user:
# clicks, matched clicks, total click-after-view gap — integer microseconds
# throughout, so the comparison is hash-exact.
_AJ01_ORACLE = """
WITH clicks AS (
  SELECT user_id, epoch_us(ts) AS us FROM events
  WHERE event_type = 'click'),
views AS (
  SELECT user_id, epoch_us(ts) AS us FROM events
  WHERE event_type = 'view'),
matched AS (
  SELECT c.user_id, c.us AS c_us, v.us AS v_us
  FROM clicks c ASOF LEFT JOIN views v
    ON c.user_id = v.user_id AND v.us <= c.us)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_clicks,
       CAST(COUNT(v_us) AS BIGINT) AS n_matched,
       CAST(COALESCE(SUM(c_us - v_us), 0) AS BIGINT) AS total_gap_us
FROM matched GROUP BY user_id ORDER BY user_id
"""


@query(
    "aj01_asof_join", _AJ01_ORACLE,
    doc="as-of join: last view at-or-before each click per user — "
        "union+window sweep vs native ASOF JOIN oracle",
)
def aj01(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", us.alias("us")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", us.alias("us")
    )
    joined = as_of_join(clicks, views, key="user_id", left_ts="us", right_ts="us")
    return (
        joined.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.count("matched_ts").alias("n_matched"),
            F.coalesce(
                F.sum(F.col("us") - F.col("matched_ts")), F.lit(0)
            ).alias("total_gap_us"),
        )
        .orderBy("user_id")
    )


# aj02: the SKEW-HARDENED two-pass as-of join (slice sub-windows + boundary
# carry-in fix-up) against the identical native-ASOF oracle shape — same
# semantics as aj01, different physical plan: a hot key's timeline spreads
# over one task per 6h slice instead of serialising through one.
_AJ02_ORACLE = """
WITH purchases AS (
  SELECT user_id, epoch_us(ts) AS us FROM events
  WHERE event_type = 'purchase'),
clicks AS (
  SELECT user_id, epoch_us(ts) AS us FROM events
  WHERE event_type = 'click'),
matched AS (
  SELECT p.user_id, p.us AS p_us, c.us AS c_us
  FROM purchases p ASOF LEFT JOIN clicks c
    ON p.user_id = c.user_id AND c.us <= p.us)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(COUNT(c_us) AS BIGINT) AS n_matched,
       CAST(COALESCE(SUM(p_us - c_us), 0) AS BIGINT) AS total_gap_us
FROM matched GROUP BY user_id ORDER BY user_id
"""


@query(
    "aj02_asof_join_skew", _AJ02_ORACLE,
    doc="skew-hardened two-pass as-of join (slice windows + carry-in "
        "fix-up) vs native ASOF JOIN oracle",
)
def aj02(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", us.alias("us")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", us.alias("us")
    )
    joined = as_of_join(
        purchases, clicks, key="user_id", left_ts="us", right_ts="us",
        slice_width=6 * 3_600_000_000,  # 6h slices in epoch-us units
    )
    return (
        joined.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.count("matched_ts").alias("n_matched"),
            F.coalesce(
                F.sum(F.col("us") - F.col("matched_ts")), F.lit(0)
            ).alias("total_gap_us"),
        )
        .orderBy("user_id")
    )


# rj01: bounded-interval range join — each purchase opens a 2-hour window;
# count the same user's clicks inside it (post-purchase engagement). The
# oracle is the plain BETWEEN inequality join; the implementation is the
# bucket-expansion equi-join, which is what keeps the plan off
# BroadcastNestedLoopJoin at any scale.
_RJ01_ORACLE = """
WITH purchases AS (
  SELECT user_id, event_id AS win_id, epoch_us(ts) AS s_us,
         epoch_us(ts) + 7200000000 AS e_us
  FROM events WHERE event_type = 'purchase'),
clicks AS (
  SELECT user_id, epoch_us(ts) AS us FROM events
  WHERE event_type = 'click')
SELECT p.user_id,
       CAST(COUNT(DISTINCT p.win_id) AS BIGINT) AS n_windows,
       CAST(COUNT(c.us) AS BIGINT) AS clicks_in_windows
FROM purchases p
LEFT JOIN clicks c
  ON c.user_id = p.user_id AND c.us BETWEEN p.s_us AND p.e_us
GROUP BY p.user_id ORDER BY p.user_id
"""


@query(
    "rj01_interval_join", _RJ01_ORACLE,
    doc="range join: clicks inside 2h post-purchase windows per user — "
        "bucket-expansion equi-join vs BETWEEN oracle",
)
def rj01(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # distinct column names on the two sides: both derive from the same
    # events frame, and shared names would make the self-join ambiguous
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_uid"),
        F.col("event_id").alias("win_id"),
        F.col("ts").alias("s_ts"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("e_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_uid"), F.col("ts").alias("c_ts")
    )
    joined = interval_join(
        clicks,
        purchases,
        event_ts="c_ts",
        start_ts="s_ts",
        end_ts="e_ts",
        keys=[("c_uid", "p_uid")],
        bucket_hours=2,
    )
    hits = joined.groupBy("win_id").agg(F.count(F.lit(1)).alias("n_clicks"))
    # LEFT semantics of the oracle: windows with no clicks still count
    per_user = (
        purchases.join(hits, "win_id", "left")
        .groupBy(F.col("p_uid").alias("user_id"))
        .agg(
            F.countDistinct("win_id").alias("n_windows"),
            F.coalesce(F.sum("n_clicks"), F.lit(0)).cast("long").alias(
                "clicks_in_windows"
            ),
        )
        .orderBy("user_id")
    )
    return per_user


# h01: continuous aggregate (hypertable rollup). The gate BUILDS the
# rollup from the first ~90% of events, REFRESHES with the late tail
# (incremental: touched buckets only, dynamic partition overwrite), and
# returns the maintained table — which must hash-match the oracle's full
# one-shot aggregate over ALL events. A passing row certifies the
# maintenance invariant, not just one aggregation.
_H01_ORACLE = """
SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS bucket_us,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 10000.0) AS BIGINT)) AS BIGINT) AS qsum
FROM events
GROUP BY 1, 2
"""


@query(
    "h01_continuous_aggregate", _H01_ORACLE,
    doc="hypertable rollup: build + incremental refresh (touched-bucket "
        "partition overwrite) must equal the full aggregate",
)
def h01(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.operators.rollup import ContinuousAggregate
    from otterbrix_spark.workload import scratch_dir

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    cutoff = ev.agg(
        F.expr("percentile_approx(unix_micros(CAST(ts AS TIMESTAMP)), 0.9)")
    ).collect()[0][0]
    scratch = scratch_dir("otx-h01-")
    ca = ContinuousAggregate(spark, scratch, bucket_hours=1)
    ca.build(ev.filter(us < cutoff))
    ca.refresh(source=ev, delta=ev.filter(us >= cutoff))
    return ca.df().select(
        F.col("bucket_us").cast("long").alias("bucket_us"),
        "event_type", "n", "qsum",
    )


# sk01: KMV (k-minimum-values) distinct sketch — the mergeable sketch
# family's simplest member (Bar-Yossef et al.; the theta-sketch core).
# Estimate = (k-1) * HASH_SPACE / R where R is the k-th smallest distinct
# hash. With md5-derived hashes the sketch is fully DETERMINISTIC, so
# unlike a rows-only approx gate the oracle replays the identical
# arithmetic and the estimate hash-matches bit-for-bit — a sketch with an
# exact correctness gate. Distributed shape: one distinct + one window
# top-k per group; at scale the k smallest hashes per group are a tiny
# mergeable state (the production form keeps only k values per partition
# then merges — same estimate).
_SK01_K = 64
_SK01_SPACE = float(1 << 60)

_SK01_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT event_type,
         ('0x' || SUBSTR(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM events),
ranked AS (
  SELECT event_type, hv,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n_exact
  FROM h)
SELECT event_type,
       CAST(n_exact AS BIGINT) AS exact_distinct,
       CAST(({_SK01_K} - 1) * {_SK01_SPACE} / CAST(hv AS DOUBLE) AS DOUBLE)
         AS kmv_estimate
FROM ranked WHERE rn = {_SK01_K}
ORDER BY event_type
"""


@query(
    "sk01_kmv_distinct", _SK01_ORACLE,
    doc="KMV distinct sketch: deterministic md5 k-minimum-values estimate "
        "with an exact cross-engine oracle",
)
def sk01(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hv = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
        ).cast("long")
    )
    h = ev.select("event_type", hv.alias("hv")).distinct()
    w = Window.partitionBy("event_type").orderBy("hv")
    wc = Window.partitionBy("event_type")
    ranked = h.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_exact", F.count(F.lit(1)).over(wc)
    )
    return (
        ranked.filter(F.col("rn") == _SK01_K)
        .select(
            "event_type",
            F.col("n_exact").cast("long").alias("exact_distinct"),
            (
                F.lit(float(_SK01_K - 1))
                * F.lit(_SK01_SPACE)
                / F.col("hv").cast("double")
            ).alias("kmv_estimate"),
        )
        .orderBy("event_type")
    )


# g01: gap-filled time buckets — TimescaleDB's time_bucket_gapfill / the
# dense calendar join. Hourly event counts where hours with NO events
# still appear (n = 0): generate the dense hour spine with sequence()
# (engine-side, no driver loop, no data-dependent collect) and LEFT JOIN
# the sparse aggregate onto it. The spine bounds come from one tiny
# min/max aggregate broadcast into the sequence — at any scale the spine
# is O(time range / bucket), independent of corpus size.
_G01_ORACLE = """
WITH bounds AS (
  SELECT (epoch_us(MIN(ts)) // 3600000000) * 3600000000 AS lo,
         (epoch_us(MAX(ts)) // 3600000000) * 3600000000 AS hi
  FROM events),
spine AS (
  SELECT UNNEST(range(lo, hi + 3600000000, 3600000000)) AS bucket_us
  FROM bounds),
sparse AS (
  SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS bucket_us,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE event_type = 'purchase' GROUP BY 1)
SELECT s.bucket_us, COALESCE(sp.n, 0) AS n
FROM spine s LEFT JOIN sparse sp ON s.bucket_us = sp.bucket_us
ORDER BY s.bucket_us
"""


@query(
    "g01_gapfill", _G01_ORACLE,
    doc="gap-filled hourly buckets: dense sequence spine LEFT JOIN sparse "
        "aggregate — empty hours present with n=0",
)
def g01(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    hour_us = 3_600_000_000
    bounds = ev.agg(
        F.expr(
            f"unix_micros(CAST(MIN(ts) AS TIMESTAMP)) DIV {hour_us} * {hour_us}"
        ).alias("lo"),
        F.expr(
            f"unix_micros(CAST(MAX(ts) AS TIMESTAMP)) DIV {hour_us} * {hour_us}"
        ).alias("hi"),
    )
    # Spark sequence() is stop-INCLUSIVE: lo..hi covers every bucket —
    # identical to the oracle's exclusive-end range(lo, hi+step, step)
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.lit(hour_us))
        ).alias("bucket_us")
    )
    sparse = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.expr(
            f"unix_micros(CAST(ts AS TIMESTAMP)) DIV {hour_us} * {hour_us}"
        ).alias("bucket_us"))
        .groupBy("bucket_us")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        spine.join(sparse, "bucket_us", "left")
        .select("bucket_us", F.coalesce("n", F.lit(0)).alias("n"))
        .orderBy("bucket_us")
    )


# w02: event-time RANGE window frames — a VALUE-range sliding frame
# (`RANGE BETWEEN 2h PRECEDING AND CURRENT ROW`), distinct from w01's
# ROWS frames: the frame extends by ORDER-BY VALUE distance, so sparse
# buckets shrink the window naturally (the time-series "trailing 2 hours"
# without self-joins or bucket explosion). One groupBy + one window
# shuffle on the same key.
_W02_ORACLE = """
WITH hourly AS (
  SELECT event_type,
         (epoch_us(ts) // 3600000000) * 3600000000 AS bucket_us,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(FLOOR(value * 10000.0) AS BIGINT)) AS qsum
  FROM events GROUP BY 1, 2)
SELECT event_type, bucket_us, n,
       CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY bucket_us
                         RANGE BETWEEN 7200000000 PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS n_3h,
       CAST(SUM(qsum) OVER (PARTITION BY event_type ORDER BY bucket_us
                            RANGE BETWEEN 7200000000 PRECEDING
                                  AND CURRENT ROW) AS DOUBLE) / 10000.0
         AS sum_3h
FROM hourly
ORDER BY event_type, bucket_us
"""


@query(
    "w02_range_frame", _W02_ORACLE,
    doc="value-RANGE sliding frames: trailing-2h window by ORDER-BY "
        "distance over hourly buckets",
)
def w02(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hour_us = 3_600_000_000
    hourly = (
        ev.select(
            "event_type",
            F.expr(
                f"unix_micros(CAST(ts AS TIMESTAMP)) DIV {hour_us} * {hour_us}"
            ).alias("bucket_us"),
            F.floor(F.col("value") * F.lit(10000.0)).cast("long").alias("q"),
        )
        .groupBy("event_type", "bucket_us")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("q").alias("qsum"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_us")
        .rangeBetween(-2 * hour_us, 0)
    )
    return (
        hourly.select(
            "event_type", "bucket_us", "n",
            F.sum("n").over(w).alias("n_3h"),
            (F.sum("qsum").over(w).cast("double") / F.lit(10000.0)).alias(
                "sum_3h"
            ),
        )
        .orderBy("event_type", "bucket_us")
    )


# --- w03: GROUPS window frames (PG 11+), emulated via dense_rank + RANGE ----
# PG/the reference's grammar supports `GROUPS BETWEEN 1 PRECEDING AND
# CURRENT ROW` — the frame counts PEER GROUPS (distinct ORDER BY values),
# not rows. Spark has ROWS and RANGE only; the exact lowering: attach
# dense_rank over the order key, then a RANGE frame over the integer
# dense_rank — N group-steps become N rank-units. The oracle derives the
# same semantics by a completely different route (per-group sums + LAG +
# join back), so the emulation is proven equivalent, not asserted.
# Scale: two windows over the same partitioning — one shuffle.

_W03_ORACLE = """
WITH q AS (
  SELECT event_id, event_type, CAST(ts AS DATE) AS d,
         CAST(FLOOR(value * 10000.0) AS BIGINT) AS qv
  FROM events),
g AS (SELECT event_type, d, SUM(qv) AS gs FROM q GROUP BY 1, 2),
wg AS (
  SELECT event_type, d,
         gs + COALESCE(LAG(gs) OVER (PARTITION BY event_type ORDER BY d), 0)
           AS grp_sum_q
  FROM g)
SELECT q.event_id, CAST(wg.grp_sum_q AS DOUBLE) / 10000.0 AS grp_sum
FROM q JOIN wg ON q.event_type = wg.event_type AND q.d = wg.d
"""


@query(
    "w03_groups_frame", _W03_ORACLE,
    doc="GROUPS window frame (PG 11) lowered to dense_rank + RANGE; "
        "oracle re-derives the frame via group sums + LAG + join",
)
def w03(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.col("ts").cast("date").alias("d"),
        F.floor(F.col("value") * F.lit(10000.0)).cast("long").alias("q"),
    )
    dr = F.dense_rank().over(
        Window.partitionBy("event_type").orderBy("d")
    )
    ranked = ev.withColumn("dr", dr)
    frame = (
        Window.partitionBy("event_type").orderBy("dr").rangeBetween(-1, 0)
    )
    return ranked.select(
        "event_id",
        (F.sum("q").over(frame).cast("double") / 10000.0).alias("grp_sum"),
    )


# --- w04: LAST_VALUE ... IGNORE NULLS (gap-carry-forward) -------------------
# The "last observation carried forward" window semantic — PG/DuckDB spell
# it `LAST_VALUE(x IGNORE NULLS)`, Spark spells it
# `last(x, ignorenulls=True)` — over a running frame: every event carries
# the most recent non-null props['k'] seen so far in its type's timeline.
# Distinct from g01's bucket gap-fill: this is per-ROW null repair inside
# one window pass, the standard sensor/ETL forward-fill.

_W04_ORACLE = """
SELECT event_id,
       LAST_VALUE(json_extract_string(props, '$.k') IGNORE NULLS)
         OVER (PARTITION BY event_type
               ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
FROM events
"""


@query(
    "w04_ignore_nulls_fill", _W04_ORACLE,
    doc="LAST_VALUE IGNORE NULLS forward-fill (Spark last(ignorenulls)) "
        "over a running per-key frame",
)
def w04(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.expr("unix_micros(CAST(ts AS TIMESTAMP))"), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = F.last(
        F.get_json_object(F.col("props"), "$.k"), ignorenulls=True
    ).over(w)
    return ev.select("event_id", filled.alias("filled"))


# aj03: the FORWARD half of the as-of matrix, with a tolerance bound —
# pandas merge_asof(direction="forward", tolerance=...): for every view,
# the FIRST click of the same user at-or-after the view and within 30
# minutes (view -> click attribution with an attribution window). Same
# one-pass union+window sweep as aj01 run with a mirrored frame; the
# tolerance is a column postcondition, not a plan change. The oracle is
# the declarative range-join formulation (DuckDB's IEJoin handles it at
# oracle scale; the Spark plan must NOT take that shape — audited).
_AJ03_ORACLE = """
WITH views AS (
  SELECT event_id, user_id, epoch_us(ts) AS us FROM events
  WHERE event_type = 'view'),
clicks AS (
  SELECT user_id, epoch_us(ts) AS us FROM events
  WHERE event_type = 'click'),
m AS (
  SELECT v.event_id, v.user_id, v.us AS v_us, MIN(c.us) AS c_us
  FROM views v LEFT JOIN clicks c
    ON v.user_id = c.user_id AND c.us >= v.us
   AND c.us <= v.us + 1800000000
  GROUP BY v.event_id, v.user_id, v.us)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_views,
       CAST(COUNT(c_us) AS BIGINT) AS n_attributed,
       CAST(COALESCE(SUM(c_us - v_us), 0) AS BIGINT) AS total_wait_us
FROM m GROUP BY user_id ORDER BY user_id
"""


@query(
    "aj03_asof_forward_tolerance", _AJ03_ORACLE,
    doc="forward as-of join with 30-minute tolerance: first click "
        "at-or-after each view within the attribution window",
)
def aj03(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", us.alias("us")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", us.alias("us")
    )
    joined = as_of_join(
        views, clicks, key="user_id", left_ts="us", right_ts="us",
        direction="forward", tolerance=30 * 60 * 1_000_000,
    )
    return (
        joined.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_views"),
            F.count("matched_ts").alias("n_attributed"),
            F.coalesce(
                F.sum(F.col("matched_ts") - F.col("us")), F.lit(0)
            ).cast("long").alias("total_wait_us"),
        )
        .orderBy("user_id")
    )


# g02: gap-fill with LINEAR INTERPOLATION — the sensor-series twin of
# g01's zero-fill (TimescaleDB `interpolate()` over time_bucket_gapfill).
# Empty hours get prev + (next - prev) * (t - t_prev) / (t_next - t_prev)
# from the nearest known buckets on each side; leading/trailing gaps (no
# neighbour on one side) stay NULL. Bucket values are quantised-sum
# averages (exact integer sums / count), and the interpolation expression
# is written with the identical association on both engines, so the
# doubles are bit-identical. Two window sweeps over the SPINE (O(time
# range), corpus-size independent) — the heavy work stays in the bucket
# aggregate.
_G02_ORACLE = """
WITH bounds AS (
  SELECT (epoch_us(MIN(ts)) // 3600000000) * 3600000000 AS lo,
         (epoch_us(MAX(ts)) // 3600000000) * 3600000000 AS hi
  FROM events),
spine AS (
  SELECT UNNEST(range(lo, hi + 3600000000, 3600000000)) AS bucket_us
  FROM bounds),
sparse AS (
  SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS bucket_us,
         SUM(CAST(FLOOR(value * 10000.0) AS BIGINT)) AS qsum,
         COUNT(*) AS cnt
  FROM events WHERE event_type = 'purchase' GROUP BY 1),
j AS (
  SELECT s.bucket_us,
         CAST(sp.qsum AS DOUBLE) / (sp.cnt * 10000.0) AS v
  FROM spine s LEFT JOIN sparse sp ON s.bucket_us = sp.bucket_us),
n AS (
  SELECT bucket_us, v,
         LAST_VALUE(v IGNORE NULLS) OVER (
           ORDER BY bucket_us ROWS UNBOUNDED PRECEDING) AS pv,
         LAST_VALUE(CASE WHEN v IS NOT NULL THEN bucket_us END IGNORE NULLS)
           OVER (ORDER BY bucket_us ROWS UNBOUNDED PRECEDING) AS pt,
         FIRST_VALUE(v IGNORE NULLS) OVER (
           ORDER BY bucket_us
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         FIRST_VALUE(CASE WHEN v IS NOT NULL THEN bucket_us END IGNORE NULLS)
           OVER (ORDER BY bucket_us
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
  FROM j)
SELECT bucket_us,
       CASE WHEN v IS NOT NULL THEN 'known'
            WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interp'
            ELSE 'edge' END AS kind,
       CASE WHEN v IS NOT NULL THEN v
            WHEN pv IS NOT NULL AND nv IS NOT NULL
            THEN pv + (nv - pv) * CAST(bucket_us - pt AS DOUBLE)
                                  / CAST(nt - pt AS DOUBLE)
            END AS val
FROM n ORDER BY bucket_us
"""


@query(
    "g02_gapfill_interpolate", _G02_ORACLE,
    doc="gap-fill with linear interpolation between nearest known "
        "buckets; leading/trailing gaps stay NULL",
)
def g02(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hour_us = 3_600_000_000
    bucket = F.expr(
        f"unix_micros(CAST(ts AS TIMESTAMP)) DIV {hour_us} * {hour_us}"
    )
    sparse = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(bucket.alias("bucket_us"))
        .agg(
            F.sum(F.floor(F.col("value") * 10000.0).cast("long")).alias(
                "qsum"
            ),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    bounds = ev.agg(
        F.expr(
            f"unix_micros(CAST(MIN(ts) AS TIMESTAMP)) DIV {hour_us} * {hour_us}"
        ).alias("lo"),
        F.expr(
            f"unix_micros(CAST(MAX(ts) AS TIMESTAMP)) DIV {hour_us} * {hour_us}"
        ).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.lit(hour_us))
        ).alias("bucket_us")
    )
    j = spine.join(sparse, "bucket_us", "left").select(
        "bucket_us",
        (F.col("qsum").cast("double") / (F.col("cnt") * 10000.0)).alias("v"),
    )
    wb = Window.orderBy("bucket_us").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wf = Window.orderBy("bucket_us").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    t_known = F.when(F.col("v").isNotNull(), F.col("bucket_us"))
    n = j.select(
        "bucket_us",
        "v",
        F.last("v", ignorenulls=True).over(wb).alias("pv"),
        F.last(t_known, ignorenulls=True).over(wb).alias("pt"),
        F.first("v", ignorenulls=True).over(wf).alias("nv"),
        F.first(t_known, ignorenulls=True).over(wf).alias("nt"),
    )
    # association mirrors the oracle exactly: ((nv - pv) * dt) / span —
    # the other grouping differs in the last ulp and fails the hash
    interp = F.col("pv") + (
        (F.col("nv") - F.col("pv"))
        * (F.col("bucket_us") - F.col("pt")).cast("double")
    ) / (F.col("nt") - F.col("pt")).cast("double")
    both = F.col("pv").isNotNull() & F.col("nv").isNotNull()
    return (
        n.select(
            "bucket_us",
            F.when(F.col("v").isNotNull(), F.lit("known"))
            .when(both, F.lit("interp"))
            .otherwise(F.lit("edge"))
            .alias("kind"),
            F.when(F.col("v").isNotNull(), F.col("v"))
            .when(both, interp)
            .alias("val"),
        )
        .orderBy("bucket_us")
    )


# w05: the remaining ranking-family window functions — NTILE, CUME_DIST,
# PERCENT_RANK — in one battery. The window ORDER BY is total (quantized
# price, then key), so ties are impossible and every function is exactly
# determined; CUME_DIST and PERCENT_RANK are exact integer ratios cast to
# double identically in both engines.
_W05_ORACLE = """
SELECT o_orderkey,
       o_orderpriority,
       NTILE(4) OVER w AS quartile,
       CUME_DIST() OVER w AS cd,
       PERCENT_RANK() OVER w AS pr
FROM (SELECT o_orderkey, o_orderpriority,
             CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS qp
      FROM orders WHERE o_orderkey < 3000)
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY qp, o_orderkey)
"""


@query(
    "w05_ranking_battery", _W05_ORACLE,
    doc="NTILE / CUME_DIST / PERCENT_RANK battery over a total (tie-free) "
        "window order",
)
def w05(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 3000
    )
    qp = F.floor(F.col("o_totalprice") * 100.0).cast("long")
    w = Window.partitionBy("o_orderpriority").orderBy(qp, F.col("o_orderkey"))
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("quartile"),
        F.cume_dist().over(w).alias("cd"),
        F.percent_rank().over(w).alias("pr"),
    )


# h02: the MVCC-BACKED continuous aggregate — rollup maintenance composed
# with snapshot isolation (VERDICT r5 Next #8 as a driver-certifiable
# gate). The events corpus becomes a VersionedTable: v1 holds the first
# ~80% (by event_id), the rollup builds from v1's snapshot, v2 commits the
# full corpus, and refresh_from pins v2's snapshot, derives the
# append-delta by key anti-join, and refreshes only the touched buckets.
# The maintained table must equal the oracle's one-shot full aggregate —
# certifying build + versioned refresh + delta derivation in one row set.
_H02_ORACLE = _H01_ORACLE


@query(
    "h02_mvcc_continuous_aggregate", _H02_ORACLE,
    doc="continuous aggregate maintained against MVCC snapshots: build "
        "from v1, commit v2, refresh_from derives the append-delta and "
        "recomputes touched buckets only — equals the full aggregate",
)
def h02(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from otterbrix_spark.operators.mvcc import VersionedTable
    from otterbrix_spark.operators.rollup import ContinuousAggregate
    from otterbrix_spark.workload import scratch_dir

    ev = load_table(spark, sf_dir, "events")
    cutoff = ev.agg(
        F.expr("percentile_approx(event_id, 0.8)")
    ).collect()[0][0]
    scratch = scratch_dir("otx-h02-")
    vt = VersionedTable.create(
        spark, os.path.join(scratch, "vt"),
        ev.filter(F.col("event_id") <= cutoff),
    )
    ca = ContinuousAggregate(
        spark, os.path.join(scratch, "rollup"), bucket_hours=1
    )
    ca.build(vt.df())
    w = vt.begin()
    v2 = w.commit(ev)
    ver, touched = ca.refresh_from(vt, base_version=v2 - 1)
    # Explicit raise, not `assert`: the certification invariant must
    # survive `python -O` (a no-op refresh would otherwise pass silently).
    if ver != v2 or not touched:
        raise AssertionError(
            f"continuous-aggregate refresh did not advance: version {ver} "
            f"(wanted {v2}), {len(touched)} touched buckets"
        )
    return ca.df().select(
        F.col("bucket_us").cast("long").alias("bucket_us"),
        "event_type", "n", "qsum",
    )


# sk02: KMV sketch MERGEABILITY — the property that makes a sketch a
# distributed aggregate: per-shard sketches (k smallest hashes of each of
# 4 disjoint shards) merged by taking the k smallest of their union must
# yield the IDENTICAL estimate as sketching the whole corpus directly
# (any global k-minimum lives inside its shard's k minima). Deterministic
# md5 hashes make both paths exactly replayable; the gate emits both
# estimates plus the equality flag, and the direct path's k-th minimum is
# a TakeOrdered top-k — never a global single-task window.
_SK02_K = 64
_SK02_SPACE = float(1 << 60)

_SK02_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT user_id,
         ('0x' || SUBSTR(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM events),
persh AS (
  SELECT hv, ROW_NUMBER() OVER (PARTITION BY user_id % 4 ORDER BY hv) AS rn
  FROM h),
merged AS (
  SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rn
  FROM persh WHERE rn <= {_SK02_K}),
direct AS (
  SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rn FROM h),
p AS (SELECT LEAST({_SK02_K}, (SELECT COUNT(*) FROM h)) AS kth,
             (SELECT COUNT(*) FROM h) AS n)
SELECT CAST(n AS BIGINT) AS exact_distinct,
       CAST(CASE WHEN n < {_SK02_K} THEN CAST(n AS DOUBLE)
            ELSE ({_SK02_K} - 1) * {_SK02_SPACE}
                 / CAST((SELECT hv FROM direct WHERE rn = p.kth) AS DOUBLE)
            END AS DOUBLE) AS direct_estimate,
       CAST(CASE WHEN n < {_SK02_K} THEN CAST(n AS DOUBLE)
            ELSE ({_SK02_K} - 1) * {_SK02_SPACE}
                 / CAST((SELECT hv FROM merged WHERE rn = p.kth) AS DOUBLE)
            END AS DOUBLE) AS merged_estimate,
       (SELECT hv FROM direct WHERE rn = p.kth)
         = (SELECT hv FROM merged WHERE rn = p.kth) AS merge_exact
FROM p
"""


@query(
    "sk02_kmv_merge", _SK02_ORACLE,
    doc="KMV sketch mergeability: k smallest of 4 per-shard sketch unions "
        "equals the direct whole-corpus sketch — the distributed-aggregate "
        "property, certified exactly",
)
def sk02(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hv = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    h = ev.select("user_id").distinct().select(
        "user_id", hv.alias("hv")
    )
    persh = h.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy(F.col("user_id") % 4).orderBy("hv")
        ),
    )
    kept = persh.filter(F.col("rn") <= _SK02_K).select("hv")
    # k-th minimum via sort+limit (TakeOrdered) then max — the scale-safe
    # form for BOTH paths; the merged set is <= 4k rows anyway
    merged_kth = kept.orderBy("hv").limit(_SK02_K).agg(F.max("hv")).collect()[0][0]
    direct_kth = h.orderBy("hv").limit(_SK02_K).agg(F.max("hv")).collect()[0][0]
    n_exact = h.count()

    def est(kth):
        # standard KMV small-cardinality rule: with fewer than k distinct
        # values the sketch holds ALL of them — report the exact count
        if n_exact < _SK02_K:
            return float(n_exact)
        return (_SK02_K - 1) * _SK02_SPACE / float(kth)
    return ev.sparkSession.createDataFrame(
        [
            (
                n_exact,
                est(direct_kth),
                est(merged_kth),
                bool(direct_kth == merged_kth),
            )
        ],
        "exact_distinct bigint, direct_estimate double, "
        "merged_estimate double, merge_exact boolean",
    )


# sk03: KMV sketch SET ALGEBRA — theta-sketch intersection (Dasgupta et
# al., "Theta sketch framework"). sk01 estimates one set's cardinality,
# sk02 proves per-shard mergeability; sk03 completes the algebra real
# deployments use: |A ∩ B| without ever materialising the intersection.
# Method: k smallest hashes of the UNION carry membership flags for each
# side; Jaccard-hat = |{union-sketch entries in both}| / k, and
# |A ∩ B|-hat = union-cardinality-hat * Jaccard-hat. Deterministic md5
# hashes -> the oracle replays the identical arithmetic bit-for-bit.
# Distributed shape: one distinct + one membership groupBy + a top-k
# (TakeOrderedAndProject — per-partition k then merge, NO global sort)
# + a 64-row aggregate; the exact intersection is computed alongside
# only as the gate's reference column.
_SK03_K = 64

_SK03_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT event_type,
         ('0x' || SUBSTR(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM events WHERE event_type IN ('click', 'purchase')),
m AS (
  SELECT hv,
         MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS in_b
  FROM h GROUP BY hv),
topk AS (SELECT * FROM m ORDER BY hv LIMIT {_SK03_K}),
agg AS (
  SELECT MAX(hv) AS r,
         CAST(SUM(in_a * in_b) AS BIGINT) AS both_in
  FROM topk),
ex AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS exact_intersection
  FROM m WHERE in_a = 1 AND in_b = 1)
SELECT ex.exact_intersection,
       agg.both_in,
       CAST(agg.both_in AS DOUBLE) / {_SK03_K}.0 AS kmv_jaccard,
       ({_SK03_K - 1}.0 * {_SK01_SPACE} / CAST(agg.r AS DOUBLE))
         * (CAST(agg.both_in AS DOUBLE) / {_SK03_K}.0)
         AS kmv_intersection_estimate
FROM agg, ex
"""


@query(
    "sk03_kmv_intersection", _SK03_ORACLE,
    doc="theta-sketch intersection: union KMV sketch with membership "
        "flags, Jaccard-hat * union-cardinality-hat, exact deterministic "
        "oracle; top-k via TakeOrderedAndProject, no global sort",
)
def sk03(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    hv = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
        ).cast("long")
    )
    h = ev.select("event_type", hv.alias("hv")).distinct()
    m = h.groupBy("hv").agg(
        F.max(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("in_a"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("in_b"),
    )
    m = m.localCheckpoint(eager=False)  # reused: top-k sketch + exact ref
    topk = m.orderBy("hv").limit(_SK03_K)
    agg = topk.agg(
        F.max("hv").alias("r"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("both_in"),
    )
    ex = (
        m.filter((F.col("in_a") == 1) & (F.col("in_b") == 1))
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    union_card = (
        F.lit(float(_SK03_K - 1)) * F.lit(_SK01_SPACE)
        / F.col("r").cast("double")
    )
    jac = F.col("both_in").cast("double") / F.lit(float(_SK03_K))
    return ex.crossJoin(F.broadcast(agg)).select(
        "exact_intersection",
        "both_in",
        jac.alias("kmv_jaccard"),
        (union_card * jac).alias("kmv_intersection_estimate"),
    )


# g03: gap-fill with LOCF (last observation carried forward) under a
# STALENESS HORIZON — TimescaleDB `locf()` with the production guard a
# raw carry-forward lacks: a sensor that went silent should not keep
# reporting its last value forever. Empty hours inherit the most recent
# known bucket value only while the gap is <= 6 hours; older carries are
# reported as 'gap' with NULL. One backward window sweep over the spine
# (O(time range)); the bucket aggregate stays the only corpus-sized scan.
# Bucket values are quantised-sum averages with identical association on
# both engines (the g02 rule), carried values are bit-copies of them.
_G03_HORIZON_US = 6 * 3_600_000_000

_G03_ORACLE = f"""
WITH bounds AS (
  SELECT (epoch_us(MIN(ts)) // 3600000000) * 3600000000 AS lo,
         (epoch_us(MAX(ts)) // 3600000000) * 3600000000 AS hi
  FROM events),
spine AS (
  SELECT UNNEST(range(lo, hi + 3600000000, 3600000000)) AS bucket_us
  FROM bounds),
sparse AS (
  SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS bucket_us,
         SUM(CAST(FLOOR(value * 10000.0) AS BIGINT)) AS qsum,
         COUNT(*) AS cnt
  FROM events WHERE event_type = 'purchase' GROUP BY 1),
j AS (
  SELECT s.bucket_us,
         CAST(sp.qsum AS DOUBLE) / (sp.cnt * 10000.0) AS v
  FROM spine s LEFT JOIN sparse sp ON s.bucket_us = sp.bucket_us),
n AS (
  SELECT bucket_us, v,
         LAST_VALUE(v IGNORE NULLS) OVER (
           ORDER BY bucket_us ROWS UNBOUNDED PRECEDING) AS pv,
         LAST_VALUE(CASE WHEN v IS NOT NULL THEN bucket_us END IGNORE NULLS)
           OVER (ORDER BY bucket_us ROWS UNBOUNDED PRECEDING) AS pt
  FROM j)
SELECT bucket_us,
       CASE WHEN v IS NOT NULL THEN 'known'
            WHEN pv IS NOT NULL
                 AND bucket_us - pt <= {_G03_HORIZON_US} THEN 'locf'
            ELSE 'gap' END AS kind,
       CASE WHEN v IS NOT NULL THEN v
            WHEN pv IS NOT NULL
                 AND bucket_us - pt <= {_G03_HORIZON_US} THEN pv
            END AS val
FROM n ORDER BY bucket_us
"""


@query(
    "g03_gapfill_locf", _G03_ORACLE,
    doc="gap-fill with last-observation-carried-forward bounded by a "
        "6-hour staleness horizon; older gaps stay NULL",
)
def g03(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hour_us = 3_600_000_000
    bucket = F.expr(
        f"unix_micros(CAST(ts AS TIMESTAMP)) DIV {hour_us} * {hour_us}"
    )
    sparse = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(bucket.alias("bucket_us"))
        .agg(
            F.sum(F.floor(F.col("value") * 10000.0).cast("long")).alias("qsum"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    bounds = ev.agg(
        F.expr(
            f"unix_micros(CAST(MIN(ts) AS TIMESTAMP)) DIV {hour_us} * {hour_us}"
        ).alias("lo"),
        F.expr(
            f"unix_micros(CAST(MAX(ts) AS TIMESTAMP)) DIV {hour_us} * {hour_us}"
        ).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"), F.lit(hour_us))).alias(
            "bucket_us"
        )
    )
    j = spine.join(sparse, "bucket_us", "left").select(
        "bucket_us",
        (F.col("qsum").cast("double") / (F.col("cnt") * 10000.0)).alias("v"),
    )
    wb = Window.orderBy("bucket_us").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    t_known = F.when(F.col("v").isNotNull(), F.col("bucket_us"))
    n = j.select(
        "bucket_us",
        "v",
        F.last("v", ignorenulls=True).over(wb).alias("pv"),
        F.last(t_known, ignorenulls=True).over(wb).alias("pt"),
    )
    fresh = F.col("pv").isNotNull() & (
        (F.col("bucket_us") - F.col("pt")) <= F.lit(_G03_HORIZON_US)
    )
    return (
        n.select(
            "bucket_us",
            F.when(F.col("v").isNotNull(), F.lit("known"))
            .when(fresh, F.lit("locf"))
            .otherwise(F.lit("gap"))
            .alias("kind"),
            F.when(F.col("v").isNotNull(), F.col("v"))
            .when(fresh, F.col("pv"))
            .alias("val"),
        )
        .orderBy("bucket_us")
    )


# h03: HIERARCHICAL continuous aggregate — an hourly rollup feeding a
# daily rollup (TimescaleDB's continuous-aggregate-on-continuous-
# aggregate). The refresh CHAIN is the point: the delta refreshes the
# hourly level O(touched hours) from the source, then the daily level
# recomputes O(touched days) FROM THE HOURLY TABLE — the raw events
# history is never rescanned for the coarse level, because count/qsum
# are decomposable partials the coarse level can sum exactly. The gate
# builds both levels from the first ~90%, refreshes the chain with the
# tail, and the daily table must equal the oracle's one-shot daily
# aggregate over the full corpus.
_H03_ORACLE = """
SELECT (epoch_us(ts) // 86400000000) * 86400000000 AS coarse_us,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 10000.0) AS BIGINT)) AS BIGINT) AS qsum
FROM events
GROUP BY 1, 2
"""


@query(
    "h03_hierarchical_rollup", _H03_ORACLE,
    doc="hourly->daily continuous-aggregate chain: daily level refreshes "
        "from the hourly table's partials, never rescanning the source",
)
def h03(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.operators.rollup import (
        ContinuousAggregate,
        CoarsenedAggregate,
    )
    from otterbrix_spark.workload import scratch_dir

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    cutoff = ev.agg(
        F.expr("percentile_approx(unix_micros(CAST(ts AS TIMESTAMP)), 0.9)")
    ).collect()[0][0]
    scratch = scratch_dir("otx-h03-")
    hourly = ContinuousAggregate(spark, f"{scratch}/hourly", bucket_hours=1)
    daily = CoarsenedAggregate(spark, f"{scratch}/daily", bucket_hours=24)
    hourly.build(ev.filter(us < cutoff))
    daily.build(hourly.df())
    touched_hours = hourly.refresh(source=ev, delta=ev.filter(us >= cutoff))
    touched_days = daily.refresh(hourly.df(), touched_hours)
    if not touched_days:
        raise AssertionError("h03: refresh chain touched no daily buckets")
    return daily.df().select(
        F.col("coarse_us").cast("long").alias("coarse_us"),
        "event_type", "n", "qsum",
    )


# aj04: NEAREST-direction as-of join with tolerance — the third direction
# of the merge_asof matrix (aj01 backward, aj03 forward+tolerance): every
# view matches its CLOSEST click of the same user within 30 minutes,
# whichever side it falls on (tie -> backward, pandas semantics — also
# property-tested against pandas.merge_asof in tests/test_temporal.py).
# The Spark plan is ONE sorted window partition serving both the
# backward and forward frames (same single shuffle as a one-sided sweep);
# the oracle is the NAIVE per-row nearest search (correlated subquery
# over an inequality — exactly the quadratic formulation the operator
# exists to avoid; fine as an oracle at test SF).
_AJ04_TOL_US = 30 * 60 * 1_000_000

_AJ04_ORACLE = f"""
WITH views AS (
  SELECT event_id, user_id, epoch_us(ts) AS us FROM events
  WHERE event_type = 'view'),
clicks AS (
  SELECT user_id, epoch_us(ts) AS us FROM events
  WHERE event_type = 'click'),
matched AS (
  SELECT v.user_id, v.us,
         (SELECT c.us FROM clicks c
          WHERE c.user_id = v.user_id
            AND abs(c.us - v.us) <= {_AJ04_TOL_US}
          ORDER BY abs(c.us - v.us), (c.us > v.us), c.us
          LIMIT 1) AS m_us
  FROM views v)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_views,
       CAST(COUNT(m_us) AS BIGINT) AS n_matched,
       CAST(COALESCE(SUM(abs(m_us - us)), 0) AS BIGINT) AS total_abs_gap_us
FROM matched GROUP BY user_id ORDER BY user_id
"""


@query(
    "aj04_asof_nearest", _AJ04_ORACLE,
    doc="nearest-direction as-of join with 30-minute tolerance: closest "
        "click either side of each view, tie -> backward (pandas "
        "merge_asof semantics)",
)
def aj04(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", us.alias("us")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", us.alias("us")
    )
    joined = as_of_join(
        views, clicks, key="user_id", left_ts="us", right_ts="us",
        direction="nearest", tolerance=_AJ04_TOL_US,
    )
    return (
        joined.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_views"),
            F.count("matched_ts").alias("n_matched"),
            F.coalesce(
                F.sum(F.abs(F.col("matched_ts") - F.col("us"))), F.lit(0)
            ).cast("long").alias("total_abs_gap_us"),
        )
        .orderBy("user_id")
    )


# sk04: theta-sketch A-NOT-B — the remaining member of the sketch set
# algebra (sk01 cardinality, sk02 merge, sk03 intersection): |A \ B|
# estimated from the union sketch's membership flags as
# union-cardinality-hat * |{topk: in_a AND NOT in_b}| / k (Dasgupta et
# al.'s a-not-b operation). The retention/churn question ("clicked but
# never purchased") answered without materialising the difference set;
# deterministic md5 hashes give it an exact oracle like its siblings.
_SK04_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT event_type,
         ('0x' || SUBSTR(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM events WHERE event_type IN ('click', 'purchase')),
m AS (
  SELECT hv,
         MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS in_b
  FROM h GROUP BY hv),
topk AS (SELECT * FROM m ORDER BY hv LIMIT {_SK03_K}),
agg AS (
  SELECT MAX(hv) AS r,
         CAST(SUM(in_a * (1 - in_b)) AS BIGINT) AS a_not_b_in
  FROM topk),
ex AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS exact_a_not_b
  FROM m WHERE in_a = 1 AND in_b = 0)
SELECT ex.exact_a_not_b,
       agg.a_not_b_in,
       ({_SK03_K - 1}.0 * {_SK01_SPACE} / CAST(agg.r AS DOUBLE))
         * (CAST(agg.a_not_b_in AS DOUBLE) / {_SK03_K}.0)
         AS kmv_a_not_b_estimate
FROM agg, ex
"""


@query(
    "sk04_kmv_a_not_b", _SK04_ORACLE,
    doc="theta-sketch A-NOT-B: clicked-but-never-purchased cardinality "
        "from the union sketch's membership flags — completes the sketch "
        "set algebra with an exact deterministic oracle",
)
def sk04(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    hv = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
        ).cast("long")
    )
    h = ev.select("event_type", hv.alias("hv")).distinct()
    m = h.groupBy("hv").agg(
        F.max(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("in_a"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("in_b"),
    )
    m = m.localCheckpoint(eager=False)
    topk = m.orderBy("hv").limit(_SK03_K)
    agg = topk.agg(
        F.max("hv").alias("r"),
        F.sum(F.col("in_a") * (1 - F.col("in_b"))).cast("long").alias(
            "a_not_b_in"
        ),
    )
    ex = (
        m.filter((F.col("in_a") == 1) & (F.col("in_b") == 0))
        .agg(F.count(F.lit(1)).alias("exact_a_not_b"))
    )
    union_card = (
        F.lit(float(_SK03_K - 1)) * F.lit(_SK01_SPACE)
        / F.col("r").cast("double")
    )
    return ex.crossJoin(F.broadcast(agg)).select(
        "exact_a_not_b",
        "a_not_b_in",
        (
            union_card
            * (F.col("a_not_b_in").cast("double") / F.lit(float(_SK03_K)))
        ).alias("kmv_a_not_b_estimate"),
    )


# w06: peer comparison EXCLUDING SELF — SQL:2003's EXCLUDE CURRENT ROW
# frame, which Spark's window API lacks; the standard lowering is
# (group aggregate - own contribution) computed from ONE window sum,
# i.e. the exclusion is algebra, not a second shuffle. Each order is
# compared against the average cents of the OTHER orders of its
# priority band: peer_avg_cents = (band_sum - own) / (band_n - 1),
# integer-exact numerator and a single division. Bands with one order
# yield NULL (no peers).
_W06_ORACLE = """
WITH o AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey < 4000),
w AS (
  SELECT o_orderkey, o_orderpriority, cents,
         CAST(SUM(cents) OVER (PARTITION BY o_orderpriority) AS BIGINT)
           AS band_sum,
         CAST(COUNT(*) OVER (PARTITION BY o_orderpriority) AS BIGINT)
           AS band_n
  FROM o)
SELECT o_orderkey, o_orderpriority, cents,
       CASE WHEN band_n > 1
            THEN CAST(band_sum - cents AS DOUBLE) / (band_n - 1) END
         AS peer_avg_cents,
       CAST(CASE WHEN band_n > 1 AND cents * (band_n - 1)
                      > (band_sum - cents) THEN 1 ELSE 0 END AS BIGINT)
         AS above_peers
FROM w ORDER BY o_orderkey
"""


@query(
    "w06_exclude_current_row", _W06_ORACLE,
    doc="EXCLUDE CURRENT ROW frame semantics via window-sum algebra: "
        "peer average without self from one window pass; above-peer flag "
        "by integer cross-multiplication",
)
def w06(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 4000
    )
    cents = F.floor(F.col("o_totalprice") * 100.0).cast("long")
    o = orders.select(
        "o_orderkey", "o_orderpriority", cents.alias("cents")
    )
    wp = Window.partitionBy("o_orderpriority")
    w = o.withColumn("band_sum", F.sum("cents").over(wp)).withColumn(
        "band_n", F.count(F.lit(1)).over(wp)
    )
    has_peers = F.col("band_n") > 1
    return (
        w.select(
            "o_orderkey", "o_orderpriority", "cents",
            F.when(
                has_peers,
                (F.col("band_sum") - F.col("cents")).cast("double")
                / (F.col("band_n") - 1),
            ).alias("peer_avg_cents"),
            F.when(
                has_peers
                & (
                    F.col("cents") * (F.col("band_n") - 1)
                    > F.col("band_sum") - F.col("cents")
                ),
                1,
            ).otherwise(0).cast("long").alias("above_peers"),
        )
        .orderBy("o_orderkey")
    )


# g04: TIME-WEIGHTED AVERAGE — TimescaleDB's time_weighted_average with
# LOCF weighting: each observation's value counts for the duration until
# the NEXT observation, TWA = sum(v_i * (t_{i+1} - t_i)) / (t_n - t_0).
# The un-weighted mean over-counts burst periods; the TWA is the honest
# per-user engagement statistic on irregular samples. Exact arithmetic:
# quantised values (1e4) x microsecond durations are exact BIGINT
# products (v <= 1e6 quanta, gaps <= ~1e13 us -> products < 2^53 and
# summed in 64-bit integers on both engines), divided once at the end.
# One LEAD window per user + one aggregate; users with < 2 events have
# no duration and yield NULL.
_G04_ORACLE = """
WITH p AS (
  SELECT user_id, epoch_us(ts) AS us,
         CAST(FLOOR(value * 10000.0) AS BIGINT) AS qv
  FROM events WHERE event_type = 'purchase'),
d AS (
  SELECT user_id, us, qv,
         LEAD(us) OVER (PARTITION BY user_id ORDER BY us, qv) AS next_us
  FROM p),
agg AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN next_us IS NOT NULL
                       THEN qv * (next_us - us) ELSE 0 END) AS BIGINT)
           AS weighted_sum,
         CAST(MAX(us) - MIN(us) AS BIGINT) AS span_us,
         CAST(COUNT(*) AS BIGINT) AS n_obs
  FROM d GROUP BY user_id)
SELECT user_id, n_obs, span_us,
       CASE WHEN span_us > 0
            THEN CAST(weighted_sum AS DOUBLE) / span_us / 10000.0 END
         AS time_weighted_avg
FROM agg ORDER BY user_id
"""


@query(
    "g04_time_weighted_avg", _G04_ORACLE,
    doc="time-weighted average with LOCF weighting (TimescaleDB "
        "time_weight): exact integer value x duration products, one LEAD "
        "window per user",
)
def g04(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.floor(F.col("value") * 10000.0).cast("long").alias("qv"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "qv")
    d = p.withColumn("next_us", F.lead("us").over(w))
    agg = d.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("next_us").isNotNull(),
                F.col("qv") * (F.col("next_us") - F.col("us")),
            ).otherwise(F.lit(0))
        ).cast("long").alias("weighted_sum"),
        (F.max("us") - F.min("us")).cast("long").alias("span_us"),
        F.count(F.lit(1)).alias("n_obs"),
    )
    return (
        agg.select(
            "user_id", "n_obs", "span_us",
            F.when(
                F.col("span_us") > 0,
                F.col("weighted_sum").cast("double")
                / F.col("span_us")
                / 10000.0,
            ).alias("time_weighted_avg"),
        )
        .orderBy("user_id")
    )


# g05: COUNTER-RESET RATE — TimescaleDB counter_agg/delta/num_resets/rate
# over a counter that occasionally resets to zero: per user, ordered by
# (ts, event_id), each sample's contribution is sample - prev if the
# counter advanced, else sample (a reset means the counter restarted
# from 0 and climbed to the observed value). total_increase and
# n_resets are exact BIGINTs; the per-second rate is ONE double
# division at the end (identical association on both engines).
# Distributed shape: one LAG window per user + one aggregate — the same
# single-shuffle plan as g04.

_G05_ORACLE = """
WITH p AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CAST(FLOOR(value * 10000.0) AS BIGINT) AS qv
  FROM events WHERE event_type IN ('click', 'view')),
d AS (
  SELECT user_id, us, qv,
         LAG(qv) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
  FROM p)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_obs,
       CAST(COUNT(CASE WHEN prev > qv THEN 1 END) AS BIGINT) AS n_resets,
       CAST(SUM(CASE WHEN prev IS NULL THEN 0
                     WHEN qv >= prev THEN qv - prev
                     ELSE qv END) AS BIGINT) AS total_increase,
       CASE WHEN MAX(us) > MIN(us)
            THEN CAST(SUM(CASE WHEN prev IS NULL THEN 0
                               WHEN qv >= prev THEN qv - prev
                               ELSE qv END) AS DOUBLE)
                 / (CAST(MAX(us) - MIN(us) AS DOUBLE) / 1000000.0)
                 / 10000.0 END AS rate_per_s
FROM d GROUP BY user_id ORDER BY user_id
"""


@query(
    "g05_counter_rate", _G05_ORACLE,
    doc="TimescaleDB counter_agg: reset-aware delta/num_resets/rate, one "
        "LAG window per user (reference temporal family; hyperfunction "
        "counter semantics)",
)
def g05(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.floor(F.col("value") * 10000.0).cast("long").alias("qv"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    d = p.withColumn("prev", F.lag("qv").over(w))
    inc = (
        F.when(F.col("prev").isNull(), F.lit(0))
        .when(F.col("qv") >= F.col("prev"), F.col("qv") - F.col("prev"))
        .otherwise(F.col("qv"))
    )
    agg = d.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.count(F.when(F.col("prev") > F.col("qv"), 1)).alias("n_resets"),
        F.sum(inc).cast("long").alias("total_increase"),
        F.max("us").alias("mx"),
        F.min("us").alias("mn"),
    )
    return (
        agg.select(
            "user_id", "n_obs", "n_resets", "total_increase",
            F.when(
                F.col("mx") > F.col("mn"),
                F.col("total_increase").cast("double")
                / ((F.col("mx") - F.col("mn")).cast("double") / 1000000.0)
                / 10000.0,
            ).alias("rate_per_s"),
        )
        .orderBy("user_id")
    )


# sk05: COUNT-MIN SKETCH — the linear frequency sketch next to KMV's
# distinct-count family (sk01-sk04): depth-4 x width-256 table of
# md5-derived bucket counts, point estimate = MIN over the 4 rows.
# Exactly deterministic (md5 buckets, integer counts) and MERGEABLE BY
# ADDITION — per-partition tables sum cell-wise, which is why one
# groupBy over (row, bucket) builds it distributed with map-side
# combine; n rows shuffle into 1024 cells regardless of corpus size.
# The gate scores the top-20 true-frequency users against their CMS
# estimates (est >= true by construction; the overestimate is the
# collision mass the width parameter tunes).

_SK05_W = 256

_SK05_ORACLE = """
WITH e AS (SELECT user_id FROM events),
js AS (SELECT UNNEST([0, 1, 2, 3]) AS j),
x AS (SELECT user_id, j,
             ('0x' || substr(md5(CAST(j AS VARCHAR) || ':'
                                 || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
               % 256 AS bucket
      FROM e, js),
cms AS (SELECT j, bucket, COUNT(*) AS c FROM x GROUP BY 1, 2),
t AS (SELECT user_id, COUNT(*) AS true_n FROM e GROUP BY 1
      ORDER BY true_n DESC, user_id LIMIT 20),
tb AS (SELECT t.user_id, t.true_n, js.j,
              ('0x' || substr(md5(CAST(js.j AS VARCHAR) || ':'
                                  || CAST(t.user_id AS VARCHAR)), 1, 15))::BIGINT
                % 256 AS bucket
       FROM t, js)
SELECT tb.user_id,
       CAST(tb.true_n AS BIGINT) AS true_n,
       CAST(MIN(cms.c) AS BIGINT) AS est_n
FROM tb JOIN cms ON cms.j = tb.j AND cms.bucket = tb.bucket
GROUP BY 1, 2
"""


def _sk05_bucket(j: int, col: F.Column) -> F.Column:
    return F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{j}:"), col.cast("string"))), 1, 15
            ),
            16, 10,
        ).cast("long"),
        F.lit(_SK05_W),
    )


@query(
    "sk05_count_min", _SK05_ORACLE,
    doc="count-min sketch: depth-4 md5 bucket table built in one groupBy, "
        "point estimates (min over rows) scored against exact top-20 "
        "frequencies",
)
def sk05(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id")
    uid = F.col("user_id")
    cms = (
        ev.select(
            F.posexplode(
                F.array(*[_sk05_bucket(j, uid) for j in range(4)])
            ).alias("j", "bucket")
        )
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_n"))
        .orderBy(F.col("true_n").desc(), "user_id")
        .limit(20)
    )
    probes = top.select(
        "user_id", "true_n",
        F.posexplode(
            F.array(*[_sk05_bucket(j, uid) for j in range(4)])
        ).alias("j", "bucket"),
    )
    return (
        probes.join(F.broadcast(cms), ["j", "bucket"])
        .groupBy("user_id", "true_n")
        .agg(F.min("c").cast("long").alias("est_n"))
        .select("user_id", F.col("true_n").cast("long").alias("true_n"), "est_n")
    )


# h04: JOIN-ENRICHED CONTINUOUS AGGREGATE — incremental maintenance of a
# rollup whose group key comes from a DIMENSION JOIN (events LEFT JOIN
# customer on user_id, grouped per (hour bucket, nation segment)). The
# IVM insight: with a static dimension, the join distributes over the
# delta — refresh(joined_source, joined_delta) recomputes only the
# delta-touched buckets, and the join runs only over the touched-bucket
# slice of the fact (a time-range-pushed scan), never the full history.
# Unmatched users fall into segment -1 (COALESCE), so the rollup is a
# partition of ALL events. Oracle = the one-shot join+aggregate.

_H04_ORACLE = """
SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS bucket_us,
       COALESCE(c_nationkey, -1) AS seg,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 10000.0) AS BIGINT)) AS BIGINT) AS qsum
FROM events LEFT JOIN customer ON events.user_id = customer.c_custkey
GROUP BY 1, 2
"""


@query(
    "h04_join_rollup", _H04_ORACLE,
    doc="continuous aggregate over a dimension JOIN: build + delta "
        "refresh of the enriched rollup equals the one-shot "
        "join+aggregate (static-dim IVM)",
)
def h04(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.operators.rollup import ContinuousAggregate
    from otterbrix_spark.workload import scratch_dir

    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    dim = cust.select(
        F.col("c_custkey").alias("uid"), F.col("c_nationkey").alias("nk")
    )
    enriched = (
        ev.join(F.broadcast(dim), ev.user_id == dim.uid, "left")
        .withColumn("seg", F.coalesce(F.col("nk"), F.lit(-1)).cast("long"))
        .drop("uid", "nk")
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    cutoff = ev.agg(
        F.expr("percentile_approx(unix_micros(CAST(ts AS TIMESTAMP)), 0.9)")
    ).collect()[0][0]  # one scalar — the build/delta split point
    scratch = scratch_dir("otx-h04-")
    ca = ContinuousAggregate(spark, scratch, bucket_hours=1, group_col="seg")
    ca.build(enriched.filter(us < cutoff))
    touched = ca.refresh(source=enriched, delta=enriched.filter(us >= cutoff))
    if not touched:
        raise AssertionError("h04: refresh touched no buckets")
    return ca.df().select(
        F.col("bucket_us").cast("long").alias("bucket_us"),
        F.col("seg").cast("long").alias("seg"),
        "n", "qsum",
    )


# aj05: STRICT as-of join — pandas merge_asof(allow_exact_matches=False):
# backward requires right_ts < left_ts, forward right_ts > left_ts. The
# implementation cost in the union+window sweep is ZERO — only the tie
# order of the side column flips, so a same-timestamp right row sorts
# outside the current row's frame. One gate certifies both strict
# directions against DuckDB's native strict ASOF JOIN (r.us < l.us /
# r.us > l.us); tie coverage is deterministic in the property suite
# (test_temporal.py), which pins same-timestamp behaviour against
# pandas.merge_asof on both paths.

_AJ05_ORACLE = """
WITH clicks AS (
  SELECT user_id, epoch_us(ts) AS us FROM events
  WHERE event_type = 'click'),
views AS (
  SELECT user_id, epoch_us(ts) AS us FROM events
  WHERE event_type = 'view'),
b AS (
  SELECT c.user_id, c.us AS c_us, v.us AS v_us
  FROM clicks c ASOF LEFT JOIN views v
    ON c.user_id = v.user_id AND v.us < c.us),
f AS (
  SELECT c.user_id, c.us AS c_us, v.us AS v_us
  FROM clicks c ASOF LEFT JOIN views v
    ON c.user_id = v.user_id AND v.us > c.us),
ab AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_clicks,
         CAST(COUNT(v_us) AS BIGINT) AS n_back,
         CAST(COALESCE(SUM(c_us - v_us), 0) AS BIGINT) AS back_gap_us
  FROM b GROUP BY user_id),
af AS (
  SELECT user_id,
         CAST(COUNT(v_us) AS BIGINT) AS n_fwd,
         CAST(COALESCE(SUM(v_us - c_us), 0) AS BIGINT) AS fwd_gap_us
  FROM f GROUP BY user_id)
SELECT ab.user_id, ab.n_clicks, ab.n_back, ab.back_gap_us,
       af.n_fwd, af.fwd_gap_us
FROM ab JOIN af ON ab.user_id = af.user_id
ORDER BY ab.user_id
"""


@query(
    "aj05_asof_strict", _AJ05_ORACLE,
    doc="strict as-of join (allow_exact_matches=False) both directions "
        "vs DuckDB native strict ASOF JOIN",
)
def aj05(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", us.alias("us")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", us.alias("us")
    )
    b = as_of_join(
        clicks, views, key="user_id", left_ts="us", right_ts="us",
        allow_exact_matches=False,
    )
    f = as_of_join(
        clicks, views, key="user_id", left_ts="us", right_ts="us",
        direction="forward", allow_exact_matches=False,
    )
    ab = b.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.count("matched_ts").alias("n_back"),
        F.coalesce(F.sum(F.col("us") - F.col("matched_ts")), F.lit(0))
        .cast("long")
        .alias("back_gap_us"),
    )
    af = f.groupBy("user_id").agg(
        F.count("matched_ts").alias("n_fwd"),
        F.coalesce(F.sum(F.col("matched_ts") - F.col("us")), F.lit(0))
        .cast("long")
        .alias("fwd_gap_us"),
    )
    return ab.join(af, "user_id").orderBy("user_id")


# --- g06: LTTB downsampling --------------------------------------------------
# Largest-Triangle-Three-Buckets (Steinarsson 2013; TimescaleDB's
# lttb()): per user series, keep first/last, split the interior into 14
# equal-count buckets, and walking left to right select from each bucket
# the point forming the largest triangle with the previous selection and
# the next bucket's centroid. The choice chain is SEQUENTIAL within a
# series — the class of operator that cannot be one windowed expression —
# and parallel across series: applyInPandas with an exact-int64 loop
# (operators/downsample.py). The oracle replays all 14 selection steps as
# an UNROLLED argmax chain (MAX over a (area, -event_id) struct per
# step — the same min(struct) idiom the k-means assigner uses), with the
# centroid division cleared by count multiplication so every comparison
# is integer-exact.

_G06_NB = 16
_G06_AREA = (
    "abs((p.px * a.cm - a.sx) * (i.y - p.py)"
    " - (p.px - i.x) * (a.sy - p.py * a.cm))"
)


def _g06_steps() -> str:
    steps = []
    for b in range(_G06_NB - 2):
        steps.append(f"""
s{b + 1} AS (
  SELECT user_id, r['eid'] AS event_id, r['cx'] AS px, r['cy'] AS py
  FROM (
    SELECT i.user_id,
           MAX({{'area': {_G06_AREA}, 'neg': -i.event_id,
                'eid': i.event_id, 'cx': i.x, 'cy': i.y}}) AS r
    FROM interior i
    JOIN s{b} p USING (user_id)
    JOIN anch a ON a.user_id = i.user_id AND a.b = {b}
    WHERE i.b = {b}
    GROUP BY i.user_id))""")
    return ",".join(steps)


_G06_ORACLE = (
    f"""
WITH pts AS (
  SELECT user_id, event_id,
         (epoch_us(CAST(ts AS TIMESTAMP))
          - MIN(epoch_us(CAST(ts AS TIMESTAMP)))
              OVER (PARTITION BY user_id)) // 1000000 AS x,
         CAST(FLOOR(value * 10000.0) AS BIGINT) AS y
  FROM events),
o AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY x, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM pts),
small AS (
  SELECT user_id, CAST(rn - 1 AS BIGINT) AS sel_seq, event_id, x, y
  FROM o WHERE n <= {_G06_NB}),
big AS (SELECT * FROM o WHERE n > {_G06_NB}),
firstp AS (SELECT user_id, event_id, x, y FROM big WHERE rn = 1),
lastp AS (SELECT user_id, event_id, x, y FROM big WHERE rn = n),
interior AS (
  SELECT user_id, event_id, x, y,
         ((rn - 2) * {_G06_NB - 2}) // (n - 2) AS b
  FROM big WHERE rn > 1 AND rn < n),
anch AS (
  SELECT user_id, b - 1 AS b, COUNT(*) AS cm,
         SUM(x) AS sx, SUM(y) AS sy
  FROM interior WHERE b >= 1 GROUP BY user_id, b
  UNION ALL
  SELECT user_id, {_G06_NB - 3} AS b, 1 AS cm, x AS sx, y AS sy
  FROM lastp),
s0 AS (SELECT user_id, event_id, x AS px, y AS py FROM firstp),"""
    + _g06_steps()
    + f"""
SELECT user_id, sel_seq, event_id, x, y FROM small
UNION ALL
SELECT user_id, CAST(0 AS BIGINT), event_id, x, y FROM firstp
UNION ALL
"""
    + "\nUNION ALL\n".join(
        f"SELECT user_id, CAST({b + 1} AS BIGINT), event_id, px AS x, "
        f"py AS y FROM s{b + 1}"
        for b in range(_G06_NB - 2)
    )
    + f"""
UNION ALL
SELECT user_id, CAST({_G06_NB - 1} AS BIGINT), event_id, x, y FROM lastp
"""
)


@query(
    "g06_lttb_downsample", _G06_ORACLE,
    doc="LTTB downsampling to 16 points per user series: sequential "
        "per-series triangle-argmax chain (applyInPandas int64 loop) "
        "vs a 14-step unrolled argmax-chain oracle, integer-exact",
)
def g06(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from otterbrix_spark.operators.downsample import lttb

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    # Fan-out guard (round-14, guide §2.2): the per-series pandas compute
    # below is CPU-heavy but tiny in bytes, so off an uncached single-split
    # scan AQE coalesces the groupBy shuffle to ONE partition (measured:
    # 3 tasks total, every series selected in one task). A pinned
    # repartition on the series key feeds both the rebasing window and the
    # applyInPandas without further exchanges; skipped when the warm cache
    # is already clustered on user_id (the exchange would undo its
    # elision).
    clustered = getattr(ev, "_otx_clustered_key", None)
    if not (clustered is not None and clustered[0] == "user_id"):
        ev = ev.repartition(
            spark.sparkContext.defaultParallelism, F.col("user_id")
        )
    # integer DIV, never float /: a float quotient one ulp under an exact
    # integer truncates off-by-one (TESTDATA nanos pitfall class)
    pts = ev.select(
        "user_id",
        "event_id",
        (us - F.min(us).over(Window.partitionBy("user_id"))).alias("dus"),
        F.floor(F.col("value") * 10000.0).cast("long").alias("y"),
    ).select(
        "user_id",
        "event_id",
        F.expr("dus DIV 1000000").alias("x"),
        "y",
    )
    return lttb(
        pts, "user_id", "x", "y", "event_id", n_buckets=_G06_NB
    ).select("user_id", "sel_seq", "event_id", "x", "y")


# --- sk06: mergeable histogram-quantile sketch -------------------------------
# Completes the sketch family (KMV distinct sk01/02, set algebra sk03/04,
# count-min sk05) with the QUANTILE sketch: a fixed 1024-bucket
# equi-width histogram over quantized order totals. Everything is
# deterministic integers, so unlike t-digest the external oracle replays
# it exactly: bucket = (cents - lo) * 1024 / (hi - lo + 1) (integer
# arithmetic), quantile estimate = left edge of the first bucket whose
# cumulative count reaches ceil(q * n). MERGEABILITY — the property that
# makes it a distributed aggregate — is certified structurally: the
# sketch is built per order-priority shard AND the merged total is
# derived by summing the shard sketches; the oracle recomputes the
# merged quantiles from the raw data, so a non-mergeable path could not
# hash-match.

_SK06_B = 1024

_SK06_ORACLE = f"""
WITH v AS (
  SELECT o_orderpriority,
         CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS cents
  FROM orders),
bounds AS (SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM v),
b AS (
  SELECT o_orderpriority,
         ((cents - lo) * {_SK06_B}) // (hi - lo + 1) AS bucket
  FROM v, bounds),
shard AS (
  SELECT o_orderpriority, bucket, COUNT(*) AS cnt
  FROM b GROUP BY o_orderpriority, bucket),
merged AS (SELECT bucket, SUM(cnt) AS cnt FROM shard GROUP BY bucket),
cum AS (
  SELECT bucket, SUM(cnt) OVER (ORDER BY bucket) AS cum,
         (SELECT SUM(cnt) FROM merged) AS n
  FROM merged),
q AS (SELECT UNNEST([50, 90, 99]) AS q_pct),
hit AS (
  SELECT q_pct, MIN(bucket) AS qbucket
  FROM cum, q
  WHERE cum * 100 >= q_pct * n
  GROUP BY q_pct)
SELECT CAST(q_pct AS BIGINT) AS q_pct,
       CAST(qbucket AS BIGINT) AS qbucket,
       CAST(lo + (qbucket * (hi - lo + 1)) // {_SK06_B} AS BIGINT)
         AS q_est_cents,
       (SELECT CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) FROM shard)
         AS n_shards_merged
FROM hit, bounds
ORDER BY q_pct
"""


@query(
    "sk06_histogram_quantile", _SK06_ORACLE,
    doc="mergeable histogram-quantile sketch: per-shard 1024-bucket "
        "histograms summed into the merged sketch, integer-exact "
        "quantile edges — the distributed-aggregate property certified",
)
def sk06(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    v = orders.select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100.0).cast("long").alias("cents"),
    )
    bounds = v.agg(
        F.min("cents").alias("lo"), F.max("cents").alias("hi")
    )
    b = v.crossJoin(F.broadcast(bounds)).select(
        "o_orderpriority",
        "lo",
        "hi",
        F.expr(f"((cents - lo) * {_SK06_B}) DIV (hi - lo + 1)").alias(
            "bucket"
        ),
    )
    # per-shard sketches (the state a distributed aggregate would hold)...
    shard = b.groupBy("o_orderpriority", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # ...merged by bucket-wise summation — the mergeability contract
    merged = shard.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))
    from pyspark.sql import Window

    cum = merged.withColumn(
        "cum", F.sum("cnt").over(Window.orderBy("bucket"))
    ).crossJoin(
        F.broadcast(merged.agg(F.sum("cnt").alias("n")))
    )
    qs = cum.select(
        "bucket",
        "cum",
        "n",
        F.explode(F.array(F.lit(50), F.lit(90), F.lit(99))).alias("q_pct"),
    )
    hit = (
        qs.filter(F.col("cum") * 100 >= F.col("q_pct") * F.col("n"))
        .groupBy("q_pct")
        .agg(F.min("bucket").alias("qbucket"))
    )
    n_shards = shard.agg(
        F.countDistinct("o_orderpriority").alias("n_shards_merged")
    )
    return (
        hit.crossJoin(F.broadcast(bounds))
        .crossJoin(F.broadcast(n_shards))
        .select(
            F.col("q_pct").cast("long"),
            F.col("qbucket").cast("long"),
            F.expr(f"lo + (qbucket * (hi - lo + 1)) DIV {_SK06_B}")
            .cast("long")
            .alias("q_est_cents"),
            "n_shards_merged",
        )
        .orderBy("q_pct")
    )


# --- h05: MVCC time travel (AS OF version reads) -----------------------------
# SQL:2011 temporal reads over the MVCC layer: every committed version
# stays addressable (`VersionedTable.as_of`, mvcc.py:98) until vacuumed,
# so "the table as of version n" is a pointer lookup + parquet read —
# no log replay. The gate commits three versions (base subset -> price
# restatement -> low-priority purge), reads ALL THREE back as-of and
# unions them with version labels; any snapshot bleeding into another
# (the isolation bug time travel exists to rule out) shifts a phase's
# counts and fails the hash. Also certifies vacuum retention: after
# vacuum(keep=2), version 0 is GONE (raises) while 1 and 2 still read.

_H05_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 3 = 0),
v1 AS (SELECT o_orderkey, o_orderpriority,
              cents + 500 AS cents FROM base),
v2 AS (SELECT * FROM v1 WHERE o_orderpriority <> '5-LOW')
SELECT 1 AS version, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents) AS BIGINT) AS total_cents FROM base
UNION ALL
SELECT 2, CAST(COUNT(*) AS BIGINT), CAST(SUM(cents) AS BIGINT) FROM v1
UNION ALL
SELECT 3, CAST(COUNT(*) AS BIGINT), CAST(SUM(cents) AS BIGINT) FROM v2
"""


@query(
    "h05_mvcc_time_travel", _H05_ORACLE,
    doc="MVCC time travel: three committed versions all addressable "
        "AS OF, vacuum retention enforced (the oldest version "
        "unreadable after vacuum(keep=2), newer two intact)",
)
def h05(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from otterbrix_spark.operators.mvcc import VersionedTable
    from otterbrix_spark.workload import scratch_dir

    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100.0).cast("long").alias("cents"),
    )
    scratch = scratch_dir("otx-h05-")
    vt = VersionedTable.create(spark, os.path.join(scratch, "vt"), base)
    w1 = vt.begin()
    w1.commit(vt.df().withColumn("cents", F.col("cents") + 500))
    w2 = vt.begin()
    w2.commit(vt.df().filter(F.col("o_orderpriority") != "5-LOW"))

    def phase(ver: int) -> DataFrame:
        return vt.as_of(ver).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("long").alias("total_cents"),
        ).select(F.lit(ver).cast("int").alias("version"), "n", "total_cents")

    out = phase(1).unionByName(phase(2)).unionByName(phase(3))
    out = out.localCheckpoint(eager=True)  # pin BEFORE vacuum drops v1

    removed = vt.vacuum(keep=2)
    if 1 not in removed:
        raise AssertionError(f"h05: vacuum(keep=2) kept version 1 ({removed})")
    try:
        vt.as_of(1).count()
    except ValueError:
        pass
    else:
        raise AssertionError("h05: vacuumed version 1 still readable")
    if vt.as_of(2).count() == 0 or vt.as_of(3).count() == 0:
        raise AssertionError("h05: retained versions unreadable after vacuum")
    return out


# g08: OHLC BARS — the candlestick rollup every hypertable/financial
# pipeline runs (TimescaleDB ohlc()/candlestick_agg; the reference's
# temporal aggregate family): per (user, day) the first/last observed
# value by (ts, event_id), the min/max, the volume, and a VWAP.
# Distributed shape: ONE groupBy with map-side-combinable aggregates —
# open/close via the min/max(struct) argmin idiom (first/last fold into
# partial aggregates, so a 100 TB tick table never shuffles raw rows,
# only one partial bar per (key, bucket, map partition)). Values are
# quantized integers; VWAP is one double division at the end with
# identical association on both engines; the (us, event_id) order key is
# unique, so first/last are deterministic.

_G08_ORACLE = """
WITH p AS (
  SELECT user_id, epoch_us(ts) AS us, event_id,
         CAST(FLOOR(value * 10000.0) AS BIGINT) AS qv
  FROM events)
SELECT user_id,
       (us // 86400000000) * 86400000000 AS bucket_us,
       FIRST(qv ORDER BY us, event_id) AS open_qv,
       MAX(qv) AS high_qv,
       MIN(qv) AS low_qv,
       LAST(qv ORDER BY us, event_id) AS close_qv,
       CAST(COUNT(*) AS BIGINT) AS volume,
       CAST(SUM(qv) AS DOUBLE) / COUNT(*) / 10000.0 AS vwap
FROM p GROUP BY 1, 2
ORDER BY user_id, bucket_us
"""


@query(
    "g08_ohlc_bars", _G08_ORACLE,
    doc="OHLC candlestick bars per (user, day): open/close via "
        "min/max(struct) argmin — map-side combinable, one shuffle, no "
        "window over raw ticks; exact-integer OHLC + single-division VWAP",
)
def g08(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = ev.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
        F.floor(F.col("value") * 10000.0).cast("long").alias("qv"),
    )
    b = p.withColumn(
        "bucket_us", F.expr("us DIV 86400000000") * F.lit(86400000000)
    )
    return (
        b.groupBy("user_id", "bucket_us")
        .agg(
            F.min(F.struct("us", "event_id", "qv")).alias("o"),
            F.max(F.struct("us", "event_id", "qv")).alias("c"),
            F.max("qv").alias("high_qv"),
            F.min("qv").alias("low_qv"),
            F.count(F.lit(1)).alias("volume"),
            F.sum("qv").cast("long").alias("sum_qv"),
        )
        .select(
            "user_id", "bucket_us",
            F.col("o.qv").alias("open_qv"),
            "high_qv", "low_qv",
            F.col("c.qv").alias("close_qv"),
            "volume",
            (F.col("sum_qv").cast("double") / F.col("volume") / 10000.0
             ).alias("vwap"),
        )
        .orderBy("user_id", "bucket_us")
    )


# g07 (registered after g08; numbering is historical): truncated EWMA —
# exponentially-weighted moving average with ratio 1/2 over the last
# K = 8 observations per user. The weight depends on the DISTANCE from
# the current row, which no ROWS/RANGE frame can express (frames weight
# every member equally). Scale lowering: each observation is exploded
# into K (target_rn = rn + d, weight = 2^(K-1-d)) contributions and
# re-aggregated by (user, target_rn) — K narrow rows per input through
# ONE shuffle, instead of re-reading a K-row trailing window per output
# row. Weights are exact powers of two, numerator/denominator exact
# BIGINTs, the EWMA itself one double division at the end; rows near the
# partition start naturally renormalize (fewer taps -> smaller
# denominator) identically on both engines.

_G07_ORACLE = """
WITH p AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CAST(FLOOR(value * 10000.0) AS BIGINT) AS qv
  FROM events),
r AS (
  SELECT user_id, us, qv,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY us, event_id)
           AS rn
  FROM p),
c AS (
  SELECT user_id, rn + d AS target_rn,
         qv * (CAST(1 AS BIGINT) << (7 - d)) AS wqv,
         CAST(1 AS BIGINT) << (7 - d) AS w
  FROM r, UNNEST(generate_series(0, 7)) AS t(d)),
a AS (
  SELECT user_id, target_rn, SUM(wqv) AS num, SUM(w) AS den
  FROM c GROUP BY 1, 2)
SELECT r.user_id, CAST(r.rn AS BIGINT) AS rn, r.us,
       CAST(a.num AS BIGINT) AS num,
       CAST(a.den AS BIGINT) AS den,
       CAST(a.num AS DOUBLE) / a.den / 10000.0 AS ewma
FROM r JOIN a ON r.user_id = a.user_id AND r.rn = a.target_rn
ORDER BY 1, 2
"""


@query(
    "g07_ewma_truncated", _G07_ORACLE,
    doc="truncated EWMA (ratio 1/2, 8 taps): distance-dependent weights "
        "no window frame expresses, lowered to a K-offset explode + "
        "re-aggregate — K narrow rows per input, one shuffle, exact "
        "power-of-two weights",
)
def g07(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    K = 8
    ev = load_table(spark, sf_dir, "events")
    p = ev.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
        F.floor(F.col("value") * 10000.0).cast("long").alias("qv"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    r = p.withColumn("rn", F.row_number().over(w)).drop("event_id")
    c = (
        r.select(
            "user_id", "rn", "qv",
            F.explode(F.sequence(F.lit(0), F.lit(K - 1))).alias("d"),
        )
        .select(
            "user_id",
            (F.col("rn") + F.col("d")).alias("target_rn"),
            (F.col("qv") * F.expr("shiftleft(CAST(1 AS BIGINT), 7 - d)")
             ).alias("wqv"),
            F.expr("shiftleft(CAST(1 AS BIGINT), 7 - d)").alias("w"),
        )
    )
    a = (
        c.groupBy("user_id", "target_rn")
        .agg(
            F.sum("wqv").cast("long").alias("num"),
            F.sum("w").cast("long").alias("den"),
        )
        .withColumnRenamed("user_id", "a_user")
    )
    return (
        r.join(
            a,
            (F.col("user_id") == F.col("a_user"))
            & (F.col("rn") == F.col("target_rn")),
        )
        .select(
            "user_id",
            F.col("rn").cast("long").alias("rn"),
            "us", "num", "den",
            (F.col("num").cast("double") / F.col("den") / 10000.0
             ).alias("ewma"),
        )
        .orderBy("user_id", "rn")
    )


# sk07: BLOOM-FILTER SEMI-JOIN — the distributed runtime-filter pattern
# (what Spark's own spark.sql.optimizer.runtime.bloomFilter.enabled
# injects, built explicitly so the mechanics are certified): the build
# side's keys are hashed by k = 4 md5-derived functions into an
# m = 256-bit array; the probe side passes if ALL k bits are set.
# Distributed shape: the bit array is a DISTINCT over O(m) positions
# (bounded by the FILTER size, never the data — the same O(k*dim)
# driver-state budget as the k-means centroids), broadcast back as a
# 4-word BIGINT literal; the probe test is pure JVM bit arithmetic —
# zero shuffle added to the probe side, which is the entire point of a
# runtime filter at 100 TB. m is deliberately small so false positives
# actually occur: they are DETERMINISTIC (md5), so the oracle counts
# the identical FP set; n_false_pos is the collision mass the m/k
# parameters tune, scored here per priority band next to ground truth.

_SK07_ORACLE = """
WITH build AS (
  SELECT DISTINCT c_custkey AS key FROM customer
  WHERE c_mktsegment = 'BUILDING'),
js AS (SELECT UNNEST([0, 1, 2, 3]) AS j),
bits AS (
  SELECT DISTINCT
         ('0x' || substr(md5('b' || CAST(j AS VARCHAR) || ':'
                             || CAST(key AS VARCHAR)), 1, 15))::BIGINT
           % 256 AS pos
  FROM build, js),
probe AS (
  SELECT o_orderkey, o_custkey, o_orderpriority FROM orders),
pp AS (
  SELECT o_orderkey,
         ('0x' || substr(md5('b' || CAST(j AS VARCHAR) || ':'
                             || CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT
           % 256 AS pos
  FROM probe, js),
hits AS (
  SELECT o_orderkey, COUNT(*) AS nhit
  FROM pp JOIN bits USING (pos) GROUP BY 1),
flags AS (
  SELECT p.o_orderkey, p.o_orderpriority,
         COALESCE(h.nhit, 0) = 4 AS bloom_pass,
         b.key IS NOT NULL AS is_member
  FROM probe p
  LEFT JOIN hits h USING (o_orderkey)
  LEFT JOIN build b ON p.o_custkey = b.key)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_probe,
       CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bloom_pass,
       CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
         AS n_true,
       CAST(SUM(CASE WHEN bloom_pass AND NOT is_member THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_pos
FROM flags GROUP BY 1 ORDER BY 1
"""


def _sk07_pos(j: int, col: F.Column) -> F.Column:
    """Bloom hash j: md5-derived position in [0, 256)."""
    return F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"b{j}:"), col.cast("string"))), 1, 15
            ),
            16, 10,
        ).cast("long"),
        F.lit(256),
    )


@query(
    "sk07_bloom_filter_join", _SK07_ORACLE,
    doc="Bloom-filter runtime semi-join: 256-bit/4-hash filter built "
        "distributed, broadcast as 4 BIGINT words, probe tested with pure "
        "JVM bit arithmetic — deterministic false positives scored "
        "against exact membership",
)
def sk07(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    build = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("key"))
        .distinct()
    )
    # O(m) driver state: the set bit positions (<= 256 ints), never keys.
    pos_rows = (
        build.select(_sk07_pos(0, F.col("key")).alias("pos"))
        .unionByName(build.select(_sk07_pos(1, F.col("key")).alias("pos")))
        .unionByName(build.select(_sk07_pos(2, F.col("key")).alias("pos")))
        .unionByName(build.select(_sk07_pos(3, F.col("key")).alias("pos")))
        .distinct()
        .collect()
    )
    words = [0, 0, 0, 0]
    for row in pos_rows:
        words[row.pos // 64] |= 1 << (row.pos % 64)
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    words_lit = F.array(*[F.lit(w).cast("long") for w in words])

    probe = orders.select("o_orderkey", "o_custkey", "o_orderpriority")
    for j in range(4):
        probe = probe.withColumn(f"p{j}", _sk07_pos(j, F.col("o_custkey")))
    test = None
    for j in range(4):
        t = (
            F.element_at(words_lit, (F.col(f"p{j}") / 64).cast("int") + 1)
            .bitwiseAND(F.expr(f"shiftleft(CAST(1 AS BIGINT), p{j} % 64)"))
            != 0
        )
        test = t if test is None else (test & t)
    flagged = probe.withColumn("bloom_pass", test).join(
        F.broadcast(build.withColumn("m", F.lit(1))),
        F.col("o_custkey") == F.col("key"),
        "left",
    )
    return (
        flagged.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_probe"),
            F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0))
            .cast("long").alias("n_bloom_pass"),
            F.sum(F.when(F.col("m").isNotNull(), 1).otherwise(0))
            .cast("long").alias("n_true"),
            F.sum(
                F.when(F.col("bloom_pass") & F.col("m").isNull(), 1)
                .otherwise(0)
            ).cast("long").alias("n_false_pos"),
        )
        .orderBy("o_orderpriority")
    )


# w08: FILTER clause on WINDOW aggregates — legal PG (and DuckDB runs it
# natively in the oracle below), but Spark's planner refuses it
# outright ("window aggregate function with filter predicate is not
# supported"); the dialect layer lowers it to the CASE-WHEN form in both
# modes (dialect.py::_rewrite_filter_over). The gate is the running
# conditional sum every funnel/billing pipeline writes: per user, the
# cumulative count and sum of HIGH-value events over an ordered frame —
# with the empty-filtered-prefix NULL/0 semantics (SUM NULL, COUNT 0)
# matching across engines by construction of the lowering.

_W08_ORACLE = """
WITH p AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CAST(FLOOR(value * 10000.0) AS BIGINT) AS qv, value
  FROM events)
SELECT user_id, event_id,
       CAST(COUNT(*) FILTER (WHERE value > 50.0) OVER (
              PARTITION BY user_id ORDER BY us, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_hot,
       CAST(SUM(qv) FILTER (WHERE value > 50.0) OVER (
              PARTITION BY user_id ORDER BY us, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_hot
FROM p ORDER BY user_id, event_id
"""


@query(
    "w08_filter_over_window", _W08_ORACLE,
    doc="FILTER (WHERE ...) on window aggregates: Spark refuses it, the "
        "dialect lowers to CASE WHEN; running conditional "
        "count/sum vs DuckDB's native window FILTER",
)
def w08(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "otx_events_w08"
    )
    return eng.sql(
        "SELECT user_id, event_id, "
        "  CAST(COUNT(*) FILTER (WHERE value > 50.0) OVER ("
        "         PARTITION BY user_id "
        "         ORDER BY unix_micros(CAST(ts AS TIMESTAMP)), event_id "
        "         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        "       AS BIGINT) AS n_hot, "
        "  CAST(SUM(CAST(FLOOR(value * 10000.0) AS BIGINT)) "
        "         FILTER (WHERE value > 50.0) OVER ("
        "         PARTITION BY user_id "
        "         ORDER BY unix_micros(CAST(ts AS TIMESTAMP)), event_id "
        "         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        "       AS BIGINT) AS cum_hot "
        "FROM otx_events_w08 ORDER BY user_id, event_id"
    )


# g09: date_bin — PG 14's arbitrary-width, arbitrary-ORIGIN time bucket
# (TimescaleDB time_bucket; the scheduling primitive behind every
# shifted-window rollup: billing periods starting mid-hour, trading
# sessions anchored at 09:30, ...). Spark has no such function; the
# dialect lowers it to pure integer microsecond arithmetic with a pmod
# floor so pre-origin timestamps bin onto the same grid instead of
# shifting one bin late (the truncate-vs-floor bug class). The oracle is
# DuckDB's native time_bucket with the same odd origin — nothing about
# the grid is hand-replicated in the oracle.

_G09_ORACLE = """
SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP),
                   TIMESTAMP '2024-01-01 00:07:30') AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 10000.0) AS BIGINT)) AS BIGINT) AS qsum
FROM events
GROUP BY 1 ORDER BY bin
"""


@query(
    "g09_date_bin", _G09_ORACLE,
    doc="PG 14 date_bin via dialect lowering (pmod floor onto an odd "
        "origin grid) vs DuckDB's native time_bucket — 15-minute bins "
        "anchored at 00:07:30",
)
def g09(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otterbrix_spark.engine import Engine

    eng = Engine(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "otx_events_g09"
    )
    return eng.sql(
        "SELECT date_bin('15 minutes', ts, "
        "                TIMESTAMP '2024-01-01 00:07:30') AS bin, "
        "       CAST(COUNT(*) AS BIGINT) AS n, "
        "       CAST(SUM(CAST(FLOOR(value * 10000.0) AS BIGINT)) AS BIGINT) "
        "         AS qsum "
        "FROM otx_events_g09 GROUP BY bin ORDER BY bin"
    )


# sk08: HYPERLOGLOG, made EXACTLY deterministic — the production
# distinct-count sketch (what a01's approx_count_distinct uses
# internally, but that one is rows-only-checkable because Spark's
# register layout is opaque). Here the sketch is built explicitly:
# md5-derived 60-bit hash -> bucket = h % 256, rho = leading-zero rank
# of a 32-bit window via the bin()-length identity (33 - length(bin(w)),
# identical in Spark and DuckDB), registers = MAX(rho) per bucket — ONE
# map-side-combinable groupBy over the raw (duplicated) stream, the
# mergeability sk02 certifies for KMV. The harmonic mean is computed as
# an EXACT INTEGER rational (numerator = sum of 2^(maxM - M_j), missing
# buckets contribute 2^maxM) so the estimate is ONE pinned double
# expression — no float accumulation order anywhere. Small-range linear
# counting is deliberately omitted (ln() differs across libm
# implementations); the gate certifies the raw-estimate path.

_SK08_ORACLE = """
WITH s AS (
  SELECT CAST(o_custkey AS VARCHAR) AS v FROM orders),
h AS (
  SELECT ('0x' || substr(md5(v), 1, 15))::BIGINT AS hv FROM s),
b AS (
  SELECT hv % 256 AS bucket,
         (hv // 256) % 4294967296 AS w
  FROM h),
r AS (
  SELECT bucket,
         MAX(CASE WHEN w > 0 THEN 33 - length(bin(w)) ELSE 33 END) AS m
  FROM b GROUP BY bucket),
mx AS (SELECT MAX(m) AS maxm, COUNT(*) AS p FROM r),
num AS (
  SELECT (SELECT SUM(CAST(1 AS BIGINT) << (mx.maxm - r.m)) FROM r)
         + (256 - mx.p) * (CAST(1 AS BIGINT) << mx.maxm) AS numerator,
         mx.maxm, mx.p
  FROM mx)
SELECT (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders)
         AS true_n,
       CAST(p AS BIGINT) AS n_buckets_hit,
       CAST(maxm AS BIGINT) AS max_register,
       CAST(numerator AS BIGINT) AS numerator,
       ((0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0)
         * CAST(CAST(1 AS BIGINT) << maxm AS DOUBLE)
         / CAST(numerator AS DOUBLE) AS hll_est
FROM num
"""


@query(
    "sk08_hll_registers", _SK08_ORACLE,
    doc="deterministic HyperLogLog: md5 buckets, bin()-length rho, "
        "max-register groupBy (map-side combinable), exact integer "
        "rational harmonic mean, one pinned double division",
)
def sk08(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    h = orders.select(
        F.conv(
            F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 15),
            16, 10,
        ).cast("long").alias("hv")
    )
    b = h.select(
        F.pmod(F.col("hv"), F.lit(256)).alias("bucket"),
        F.expr("pmod(hv DIV 256, 4294967296)").alias("w"),
    )
    r = b.groupBy("bucket").agg(
        F.max(
            F.when(F.col("w") > 0, 33 - F.length(F.bin(F.col("w"))))
            .otherwise(33)
        ).alias("m")
    )
    maxm, p = r.agg(F.max("m"), F.count(F.lit(1))).collect()[0]  # O(1)
    numerator_row = r.agg(
        (
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {maxm} - m)"))
            + F.lit((256 - p) * (1 << maxm)).cast("long")
        ).alias("numerator")
    ).collect()[0]
    numerator = int(numerator_row.numerator)
    true_n = orders.agg(F.countDistinct("o_custkey")).collect()[0][0]
    est = (
        ((0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0)
        * float(1 << maxm)
        / float(numerator)
    )
    return spark.createDataFrame(
        [(int(true_n), int(p), int(maxm), numerator, est)],
        "true_n BIGINT, n_buckets_hit BIGINT, max_register BIGINT, "
        "numerator BIGINT, hll_est DOUBLE",
    )


# sk09: HLL MERGEABILITY — the distributed-aggregate property that makes
# sk08's sketch a cluster citizen (same certification sk02 gives KMV):
# registers built independently per shard (orders split by priority
# band) and max-merged MUST equal the registers built over the whole
# stream in one pass — bucket by bucket, not just in the estimate. The
# gate emits the full 256-row register table from BOTH construction
# paths and a per-bucket equality flag; the oracle replays both paths,
# so a merge that silently lost a shard or double-counted one would
# fail on the exact bucket it corrupted. (max is idempotent/commutative
# — THE reason HLL shards: a retried partition cannot corrupt the
# sketch.)

_SK09_ORACLE = """
WITH s AS (
  SELECT CAST(o_custkey AS VARCHAR) AS v,
         o_orderpriority AS shard
  FROM orders),
h AS (
  SELECT shard, ('0x' || substr(md5(v), 1, 15))::BIGINT AS hv FROM s),
b AS (
  SELECT shard, hv % 256 AS bucket, (hv // 256) % 4294967296 AS w
  FROM h),
shard_regs AS (
  SELECT shard, bucket,
         MAX(CASE WHEN w > 0 THEN 33 - length(bin(w)) ELSE 33 END) AS m
  FROM b GROUP BY 1, 2),
merged AS (
  SELECT bucket, MAX(m) AS m_merged FROM shard_regs GROUP BY bucket),
direct AS (
  SELECT bucket,
         MAX(CASE WHEN w > 0 THEN 33 - length(bin(w)) ELSE 33 END)
           AS m_direct
  FROM b GROUP BY bucket)
SELECT d.bucket,
       CAST(d.m_direct AS BIGINT) AS m_direct,
       CAST(g.m_merged AS BIGINT) AS m_merged,
       d.m_direct = g.m_merged AS buckets_agree
FROM direct d JOIN merged g ON d.bucket = g.bucket
ORDER BY d.bucket
"""


@query(
    "sk09_hll_merge", _SK09_ORACLE,
    doc="HLL mergeability: per-shard register tables max-merged equal "
        "the single-pass registers bucket-by-bucket — the retry-safe "
        "distributed-aggregate property",
)
def sk09(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    b = orders.select(
        F.col("o_orderpriority").alias("shard"),
        F.conv(
            F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 15),
            16, 10,
        ).cast("long").alias("hv"),
    ).select(
        "shard",
        F.pmod(F.col("hv"), F.lit(256)).alias("bucket"),
        F.expr("pmod(hv DIV 256, 4294967296)").alias("w"),
    )
    rho = F.max(
        F.when(F.col("w") > 0, 33 - F.length(F.bin(F.col("w"))))
        .otherwise(33)
    )
    shard_regs = b.groupBy("shard", "bucket").agg(rho.alias("m"))
    merged = shard_regs.groupBy("bucket").agg(
        F.max("m").cast("long").alias("m_merged")
    )
    direct = b.groupBy("bucket").agg(rho.cast("long").alias("m_direct"))
    return (
        direct.join(merged, "bucket")
        .select(
            "bucket", "m_direct", "m_merged",
            (F.col("m_direct") == F.col("m_merged")).alias("buckets_agree"),
        )
        .orderBy("bucket")
    )


# sk10: COUNT-MIN SKETCH — the mergeable heavy-hitter frequency
# estimator that completes the sketch family (KMV sk01-03, histogram
# sk06, Bloom sk07, HLL sk08/09): d=4 independent md5-derived hash rows
# x w=64 counters, built with ONE map-side-combinable groupBy over the
# raw stream (the sketch is 256 cells of O(1) state at ANY stream
# size); point queries probe MIN over the item's d cells. The gate
# scores the top-10 true-frequency keys against their CMS estimates and
# asserts the one-sided guarantee (CMS never undercounts — collisions
# only ADD) cell-exactly on both engines. Reference anchor: the
# reference's sketch/statistics machinery lives in its physical plan
# collectors; here the sketch IS a relational aggregate, so retries and
# shard merges are safe by construction (counters are sums).

_SK10_ORACLE = """
WITH s AS (SELECT CAST(o_custkey AS VARCHAR) AS v, o_custkey FROM orders),
rc AS (
  SELECT o_custkey, r.r AS r,
         ('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' || v), 1, 15))
           ::BIGINT % 64 AS c
  FROM s, generate_series(0, 3) r(r)),
cms AS (SELECT r, c, COUNT(*) AS counter FROM rc GROUP BY r, c),
tc AS (SELECT o_custkey, COUNT(*) AS tc FROM s GROUP BY o_custkey),
top AS (
  SELECT o_custkey, tc FROM (
    SELECT o_custkey, tc,
           ROW_NUMBER() OVER (ORDER BY tc DESC, o_custkey) AS rn
    FROM tc) WHERE rn <= 10),
probe AS (
  SELECT t.o_custkey, t.tc, r.r AS r,
         ('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':'
                             || CAST(t.o_custkey AS VARCHAR)), 1, 15))
           ::BIGINT % 64 AS c
  FROM top t, generate_series(0, 3) r(r))
SELECT p.o_custkey,
       CAST(p.tc AS BIGINT) AS true_cnt,
       CAST(MIN(m.counter) AS BIGINT) AS cms_est,
       MIN(m.counter) >= p.tc AS never_undercounts
FROM probe p JOIN cms m ON p.r = m.r AND p.c = m.c
GROUP BY p.o_custkey, p.tc
ORDER BY true_cnt DESC, p.o_custkey
"""


def _sk10_cell(r, v):
    """Row-r CMS column for value v — md5('r:v') folded to 60 bits, mod
    the sketch width (64). Identical expression on both engines."""
    return F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(r.cast("string"), F.lit(":"), v)), 1, 15
            ),
            16, 10,
        ).cast("long"),
        F.lit(64),
    )


@query(
    "sk10_count_min", _SK10_ORACLE,
    doc="count-min sketch: 4x64 md5-hashed counter grid from one "
        "map-side-combinable groupBy, top-10 heavy hitters probed via "
        "min-of-cells with the never-undercount guarantee asserted",
)
def sk10(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    s = orders.select(
        "o_custkey", F.col("o_custkey").cast("string").alias("v")
    )
    rows = s.select(
        "o_custkey", "v",
        F.explode(F.expr("sequence(0, 3)")).alias("r"),
    )
    cms = (
        rows.withColumn("c", _sk10_cell(F.col("r"), F.col("v")))
        .groupBy("r", "c")
        .agg(F.count(F.lit(1)).alias("counter"))
    )
    tc = s.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("true_cnt"))
    from pyspark.sql import Window

    top = (
        tc.withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.col("true_cnt").desc(), "o_custkey")
            ),
        )
        .filter(F.col("rn") <= 10)
        .drop("rn")
    )
    probe = top.select(
        "o_custkey", "true_cnt",
        F.explode(F.expr("sequence(0, 3)")).alias("r"),
    ).withColumn(
        "c", _sk10_cell(F.col("r"), F.col("o_custkey").cast("string"))
    )
    # the sketch is 256 rows at ANY scale -> always broadcast
    est = (
        probe.join(F.broadcast(cms), ["r", "c"])
        .groupBy("o_custkey", "true_cnt")
        .agg(F.min("counter").alias("cms_est"))
    )
    return est.select(
        "o_custkey", "true_cnt", "cms_est",
        (F.col("cms_est") >= F.col("true_cnt")).alias("never_undercounts"),
    ).orderBy(F.col("true_cnt").desc(), "o_custkey")


# g10: ROBUST ANOMALY DETECTION via median absolute deviation — the
# outlier detector that (unlike the z-score anomaly s06 streams) does
# not let the outliers inflate their own threshold: flag x when
# |x - median| > 3 * MAD. Exactness trick: every quantile is taken over
# EVEN integers (values doubled before the percentile), so the 0.5
# interpolation midpoint (a+b)/2 is always an integer and the
# double-typed percentile result casts back to BIGINT losslessly on
# both engines; the flag comparison 4*dev > 3*mad4 is then pure integer
# arithmetic (dev in 2x units, mad4 in 4x units — same scale factor on
# both sides). Scale shape: two exact-percentile groupBys over the
# per-type partition plus one broadcast join of the 5-row threshold
# table back onto the stream — the same two-pass shape any robust
# statistic needs; at 100 TB the exact median would swap for the
# mergeable sk06 histogram sketch, which is why both exist.

_G10_ORACLE = """
WITH v AS (
  SELECT event_type, CAST(FLOOR(value * 1000000) AS BIGINT) AS mic
  FROM events WHERE value IS NOT NULL),
med AS (
  SELECT event_type,
         CAST(quantile_cont(2 * mic, 0.5) AS BIGINT) AS med2
  FROM v GROUP BY event_type),
dev AS (
  SELECT v.event_type, v.mic, ABS(2 * v.mic - m.med2) AS dev2
  FROM v JOIN med m ON v.event_type = m.event_type),
mad AS (
  SELECT event_type,
         CAST(quantile_cont(2 * dev2, 0.5) AS BIGINT) AS mad4
  FROM dev GROUP BY event_type)
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(m2.med2) AS BIGINT) AS med2,
       CAST(MIN(a.mad4) AS BIGINT) AS mad4,
       CAST(SUM(CASE WHEN 4 * d.dev2 > 3 * a.mad4 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       CAST(MAX(d.dev2) AS BIGINT) AS max_dev2
FROM dev d
JOIN mad a ON d.event_type = a.event_type
JOIN med m2 ON d.event_type = m2.event_type
GROUP BY d.event_type
ORDER BY d.event_type
"""


@query(
    "g10_mad_anomaly", _G10_ORACLE,
    doc="median-absolute-deviation outlier detection per event type: "
        "exact integer medians via the doubled-value interpolation "
        "trick, 3-MAD flags compared in pure integer arithmetic",
)
def g10(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    v = ev.select(
        "event_type",
        F.floor(F.col("value") * 1000000).cast("long").alias("mic"),
    )
    med = v.groupBy("event_type").agg(
        F.percentile(F.col("mic") * 2, F.lit(0.5))
        .cast("long")
        .alias("med2")
    )
    dev = v.join(F.broadcast(med), "event_type").select(
        "event_type", "mic",
        F.abs(F.col("mic") * 2 - F.col("med2")).alias("dev2"),
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile(F.col("dev2") * 2, F.lit(0.5))
        .cast("long")
        .alias("mad4")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("med2").alias("med2"),
            F.min("mad4").alias("mad4"),
            F.sum(
                F.when(
                    F.col("dev2") * 4 > F.col("mad4") * 3, 1
                ).otherwise(0)
            ).alias("n_outliers"),
            F.max("dev2").alias("max_dev2"),
        )
        .orderBy("event_type")
    )


# sk11: AMS "tug-of-war" second-moment (F2) sketch — the last classic
# mergeable sketch missing from the family (KMV sk01-04, CMS sk05/sk10,
# histogram sk06, Bloom sk07, HLL sk08/09). F2 = sum over keys of
# count^2 drives self-join size estimation (the optimizer statistic the
# reference's planner keeps per column) and skew detection. Each of
# d=8 estimators keeps ONE counter: the +/-1 sign-weighted sum of the
# stream; E[S_r^2] = F2 exactly (Alon-Matias-Szegedy '96). Plan shape:
# ONE md5 per input row supplies all 8 signs (estimator r = parity of
# hex nibble r+1), and the 8 registers are built as 8 conditional sums
# in ONE map-side-combinable aggregate — ZERO row expansion (the first
# version exploded 8 rows per input; the 5x probe read 4.83 and this
# rewrite removes that 8x constant). The single register row is
# unpivoted via stack() locally. Registers merge across shards/retries
# by addition (signs are value-deterministic). Estimate = median of the
# squares, taken exactly as the g10 doubled-units trick (sum of the two
# middle order statistics of 8 = median in 2x units, pure integer).
# The gate emits each estimator's counter and square plus the exact F2,
# so the driver hash pins the full register state, not just the
# estimate. No one-sided guarantee exists for AMS (unlike CMS sk10),
# so none is asserted; accuracy is the documented 1/sqrt(8) relative
# error in expectation. Reference anchor: per-column statistics
# collectors in the reference planner (components/statistics).

_SK11_ORACLE = """
WITH s AS (SELECT md5(CAST(o_custkey AS VARCHAR)) AS h, o_custkey FROM orders),
signs AS (
  SELECT r.r AS r,
         CASE WHEN ('0x' || substr(h, r.r + 1, 1))::BIGINT % 2 = 1
              THEN 1 ELSE -1 END AS sg
  FROM s, generate_series(0, 7) r(r)),
est AS (SELECT r, CAST(SUM(sg) AS BIGINT) AS s_r FROM signs GROUP BY r),
x AS (SELECT r, s_r, s_r * s_r AS x_r FROM est),
tru AS (
  SELECT CAST(SUM(c * c) AS BIGINT) AS f2_true
  FROM (SELECT COUNT(*) AS c FROM s GROUP BY o_custkey)),
med AS (
  SELECT CAST(SUM(x_r) AS BIGINT) AS med2_estimate
  FROM (SELECT x_r, ROW_NUMBER() OVER (ORDER BY x_r, r) AS rn FROM x)
  WHERE rn IN (4, 5))
SELECT x.r, x.s_r, CAST(x.x_r AS BIGINT) AS x_r,
       med.med2_estimate, tru.f2_true
FROM x, med, tru
ORDER BY x.r
"""


def _nibble_sign(h, r: int):
    """+1/-1 from the parity of hex nibble r+1 of the row's single md5 —
    8 independent AMS signs from one hash evaluation."""
    return F.when(
        F.pmod(
            F.conv(F.substring(h, r + 1, 1), 16, 10).cast("long"), F.lit(2)
        )
        == 1,
        F.lit(1),
    ).otherwise(F.lit(-1))


@query(
    "sk11_ams_f2", _SK11_ORACLE,
    doc="AMS tug-of-war F2 sketch: 8 nibble-signed one-counter estimators "
        "from ONE no-explode map-side aggregate (mergeable by addition), "
        "exact-integer median-of-squares estimate in doubled units, "
        "register state hash-pinned against the exact F2",
)
def sk11(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    s = orders.select(
        "o_custkey", F.md5(F.col("o_custkey").cast("string")).alias("h")
    )
    # 8 registers as 8 conditional sums in ONE aggregate — no explode,
    # no shuffle of expanded rows; the single wide row unpivots locally
    reg = s.agg(
        *[
            F.sum(_nibble_sign(F.col("h"), r)).cast("long").alias(f"s{r}")
            for r in range(8)
        ]
    )
    est = reg.select(
        F.expr(
            "stack(8, "
            + ", ".join(f"{r}, s{r}" for r in range(8))
            + ") AS (r, s_r)"
        )
    )
    x = est.select(
        "r", "s_r", (F.col("s_r") * F.col("s_r")).alias("x_r")
    )
    tru = (
        s.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).cast("long").alias("f2_true"))
    )
    from pyspark.sql import Window

    med = (
        x.withColumn(
            "rn",
            F.row_number().over(Window.orderBy(F.col("x_r"), F.col("r"))),
        )
        .filter(F.col("rn").isin(4, 5))
        .agg(F.sum("x_r").cast("long").alias("med2_estimate"))
    )
    # med and tru are single-row frames -> broadcast cross joins
    return (
        x.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(tru))
        .select("r", "s_r", "x_r", "med2_estimate", "f2_true")
        .orderBy("r")
    )


# sk12: AMS join-size estimation — the reason AMS sketches exist in
# query optimizers (Alon-Gibbons-Matias-Szegedy '99): for streams A and
# B with per-key frequencies f_A, f_B, the SAME signed one-counter
# estimators as sk11 satisfy E[S_A,r * S_B,r] = Σ_k f_A(k)·f_B(k) =
# |A ⋈ B| — the equi-join cardinality, estimated from two 8-integer
# register vectors without ever joining. This is the per-column
# statistic a distributed planner ships between nodes to pick join
# orders (the reference's planner statistics seam); both register
# vectors here are one map-side-combinable groupBy over their stream,
# mergeable by addition across shards/retries. A = all lineitems'
# partkeys, B = returned ('R') lineitems' partkeys — overlapping keys
# with different multiplicities; estimate = exact-integer median (g10
# doubled-units trick) of the 8 estimator products (products can be
# negative — the order statistics handle sign correctly), pinned
# against the exact join size computed relationally.

_SK12_ORACLE = """
WITH a AS (SELECT md5(CAST(l_partkey AS VARCHAR)) AS h, l_partkey
           FROM lineitem),
b AS (SELECT md5(CAST(l_partkey AS VARCHAR)) AS h, l_partkey FROM lineitem
      WHERE l_returnflag = 'R'),
sa AS (
  SELECT r.r AS r,
         CAST(SUM(CASE WHEN ('0x' || substr(h, r.r + 1, 1))::BIGINT % 2 = 1
              THEN 1 ELSE -1 END) AS BIGINT) AS sa_r
  FROM a, generate_series(0, 7) r(r) GROUP BY r.r),
sb AS (
  SELECT r.r AS r,
         CAST(SUM(CASE WHEN ('0x' || substr(h, r.r + 1, 1))::BIGINT % 2 = 1
              THEN 1 ELSE -1 END) AS BIGINT) AS sb_r
  FROM b, generate_series(0, 7) r(r) GROUP BY r.r),
x AS (
  SELECT sa.r, sa.sa_r, sb.sb_r, sa.sa_r * sb.sb_r AS prod_r
  FROM sa JOIN sb ON sa.r = sb.r),
tru AS (
  SELECT CAST(SUM(ca * cb) AS BIGINT) AS true_join_size
  FROM (SELECT l_partkey, COUNT(*) AS ca FROM a GROUP BY l_partkey) fa
  JOIN (SELECT l_partkey, COUNT(*) AS cb FROM b GROUP BY l_partkey) fb
    ON fa.l_partkey = fb.l_partkey),
med AS (
  SELECT CAST(SUM(prod_r) AS BIGINT) AS med2_estimate
  FROM (SELECT prod_r, ROW_NUMBER() OVER (ORDER BY prod_r, r) AS rn FROM x)
  WHERE rn IN (4, 5))
SELECT x.r, x.sa_r, x.sb_r, CAST(x.prod_r AS BIGINT) AS prod_r,
       med.med2_estimate, tru.true_join_size
FROM x, med, tru
ORDER BY x.r
"""


def _ams_registers(df, col: str, out: str):
    """8-estimator AMS sign-sum register vector over ``df[col]`` — ONE
    md5 per row (sk11's nibble-parity signs), 8 conditional sums in ONE
    no-explode map-side aggregate, unpivoted locally via stack();
    mergeable by addition. Both streams MUST use the same sign family
    for the join-size identity E[S_A * S_B] = |A JOIN B| to hold."""
    h = F.md5(F.col(col).cast("string"))
    reg = df.agg(
        *[
            F.sum(_nibble_sign(h, r)).cast("long").alias(f"s{r}")
            for r in range(8)
        ]
    )
    return reg.select(
        F.expr(
            "stack(8, "
            + ", ".join(f"{r}, s{r}" for r in range(8))
            + f") AS (r, {out})"
        )
    )


@query(
    "sk12_ams_join_size", _SK12_ORACLE,
    doc="AMS join-cardinality estimation: |A JOIN B| from the dot "
        "product of two 8-integer sign-sum register vectors (no join "
        "executed, no row expansion — one md5 + 8 conditional sums per "
        "stream) — exact-integer median of products vs the exact "
        "relational join size",
)
def sk12(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    a = li.select("l_partkey")
    b = li.filter(F.col("l_returnflag") == "R").select("l_partkey")
    sa = _ams_registers(a, "l_partkey", "sa_r")
    sb = _ams_registers(b, "l_partkey", "sb_r")
    x = sa.join(F.broadcast(sb), "r").select(
        "r", "sa_r", "sb_r", (F.col("sa_r") * F.col("sb_r")).alias("prod_r")
    )
    fa = a.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("ca"))
    fb = b.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cb"))
    tru = (
        fa.join(fb, "l_partkey")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("long")
             .alias("true_join_size"))
    )
    from pyspark.sql import Window

    med = (
        x.withColumn(
            "rn",
            F.row_number().over(Window.orderBy(F.col("prod_r"), F.col("r"))),
        )
        .filter(F.col("rn").isin(4, 5))
        .agg(F.sum("prod_r").cast("long").alias("med2_estimate"))
    )
    return (
        x.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(tru))
        .select("r", "sa_r", "sb_r", "prod_r", "med2_estimate",
                "true_join_size")
        .orderBy("r")
    )


# g11: seasonal-naive forecasting with error accounting — the baseline
# every time-series pipeline scores against (the "repeat last season"
# model; Hyndman & Athanasopoulos, Forecasting: Principles & Practice,
# §5.2): train a per-(series, hour-of-day) level on weeks 1-2 of the
# corpus, forecast weeks 3-4 with it, and report exact integer absolute
# errors. Scale shape: ONE grouped aggregate over the train slice
# builds the 24-cell-per-series model (broadcast back — the model is
# O(series * 24) at ANY corpus size), one join + one aggregate scores
# the test slice; both date-range filters push to the scan. Exactness:
# values in micro-units, the model level is a truncating DIV mean, and
# the error sum is pure integer — bit-identical on both engines.

_G11_ORACLE = """
WITH v AS (
  SELECT event_type,
         hour(CAST(ts AS TIMESTAMP)) AS hod,
         CAST(ts AS TIMESTAMP) AS tss,
         CAST(FLOOR(value * 1000000) AS BIGINT) AS mic
  FROM events WHERE value IS NOT NULL),
train AS (
  SELECT event_type, hod,
         CAST(SUM(mic) // COUNT(*) AS BIGINT) AS level_mic
  FROM v WHERE tss < TIMESTAMP '2024-01-15 00:00:00'
  GROUP BY event_type, hod),
test AS (
  SELECT event_type, hod, mic FROM v
  WHERE tss >= TIMESTAMP '2024-01-15 00:00:00'),
scored AS (
  SELECT t.event_type, t.hod, tr.level_mic,
         ABS(t.mic - tr.level_mic) AS abs_err
  FROM test t JOIN train tr
    ON tr.event_type = t.event_type AND tr.hod = t.hod)
SELECT event_type, CAST(hod AS BIGINT) AS hod,
       CAST(MIN(level_mic) AS BIGINT) AS level_mic,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       CAST(SUM(abs_err) AS BIGINT) AS sum_abs_err
FROM scored GROUP BY event_type, hod
ORDER BY event_type, hod
"""


@query(
    "g11_seasonal_naive_forecast", _G11_ORACLE,
    doc="seasonal-naive forecast + exact error accounting: 24-cell "
        "hour-of-day level trained on the first half (truncating-DIV "
        "mean), broadcast onto the second half, integer absolute errors "
        "— the O(series x 24) model state of a real baseline forecaster",
)
def g11(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    v = ev.select(
        "event_type",
        F.hour(F.col("ts").cast("timestamp")).alias("hod"),
        F.col("ts").cast("timestamp").alias("tss"),
        F.floor(F.col("value") * 1000000).cast("long").alias("mic"),
    )
    cut = F.lit("2024-01-15 00:00:00").cast("timestamp")
    train = (
        v.filter(F.col("tss") < cut)
        .groupBy("event_type", "hod")
        .agg(F.expr("CAST(SUM(mic) DIV COUNT(*) AS BIGINT)").alias("level_mic"))
    )
    test = v.filter(F.col("tss") >= cut).select(
        F.col("event_type").alias("t_type"), F.col("hod").alias("t_hod"), "mic"
    )
    scored = test.join(
        F.broadcast(train),
        (F.col("event_type") == F.col("t_type"))
        & (F.col("hod") == F.col("t_hod")),
    ).select(
        "event_type", "hod", "level_mic",
        F.abs(F.col("mic") - F.col("level_mic")).alias("abs_err"),
    )
    return (
        scored.groupBy("event_type", "hod")
        .agg(
            F.min("level_mic").alias("level_mic"),
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum("abs_err").cast("long").alias("sum_abs_err"),
        )
        .select(
            "event_type", F.col("hod").cast("long").alias("hod"),
            "level_mic", "n_test", "sum_abs_err",
        )
        .orderBy("event_type", "hod")
    )


# --- sk13: mergeable sample-quantile sketch -----------------------------------
# The quantile analogue of sk01/sk02: a deterministic md5-rank sample of
# size K is a uniform corpus sample (the k-minimum-values idea applied to
# row identity instead of distinctness), and it is MERGEABLE — the union
# of per-shard K-smallest-hash samples re-cut to the global K smallest
# equals the single-pass sample exactly, which is the property a
# t-digest/KLL deployment actually relies on for distributed and
# streaming maintenance. The gate certifies the merge equality
# distributively (exceptAll both ways, no driver rows) and reports
# order-statistic quantile estimates from the merged sample against the
# EXACT corpus order statistics, every value an integer cent.
# Scale shape: per-shard top-K is a bounded heap, the exact side is
# TakeOrderedAndProject (certification-only — production reads the
# sketch precisely to avoid it), no single-task corpus-sized window.

_SK13_K = 64

_SK13_ORACLE = f"""
WITH base AS (
  SELECT o_orderkey AS k,
         CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS cents,
         ('0x' || SUBSTR(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
           AS hv
  FROM orders),
samp AS (
  SELECT cents FROM base
  QUALIFY ROW_NUMBER() OVER (ORDER BY hv) <= {_SK13_K}),
sr AS (SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) AS rn FROM samp),
tr AS (
  SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, k) AS rn FROM base),
n AS (SELECT COUNT(*) AS n FROM base),
q AS (SELECT 50 AS q_pct UNION ALL SELECT 90)
SELECT q.q_pct,
       (SELECT cents FROM sr
        WHERE rn = CAST(CEIL(q.q_pct / 100.0 * {_SK13_K}) AS BIGINT))
         AS est_cents,
       (SELECT cents FROM tr
        WHERE rn = (SELECT CAST(CEIL(q.q_pct / 100.0 * n) AS BIGINT) FROM n))
         AS true_cents,
       ABS((SELECT cents FROM sr
            WHERE rn = CAST(CEIL(q.q_pct / 100.0 * {_SK13_K}) AS BIGINT))
           - (SELECT cents FROM tr
              WHERE rn = (SELECT CAST(CEIL(q.q_pct / 100.0 * n) AS BIGINT)
                          FROM n)))
         AS abs_err
FROM q ORDER BY q_pct
"""


@query(
    "sk13_sample_quantiles", _SK13_ORACLE,
    doc="mergeable md5-rank sample quantile sketch: per-shard K-smallest "
        "samples merged == single-pass sample (certified distributively), "
        "order-statistic estimates vs exact corpus quantiles",
)
def sk13(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    K = _SK13_K
    orders = load_table(spark, sf_dir, "orders")
    hv = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10
    ).cast("long")
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.floor(F.col("o_totalprice") * 100.0).cast("long").alias("cents"),
        hv.alias("hv"),
    )
    direct = base.orderBy("hv").limit(K).select("hv", "cents")
    # shard-and-merge path: bounded per-shard heaps, then re-cut to K
    shard_w = Window.partitionBy(F.col("k") % 4).orderBy("hv")
    merged = (
        base.withColumn("rn", F.row_number().over(shard_w))
        .filter(F.col("rn") <= K)
        .orderBy("hv")
        .limit(K)
        .select("hv", "cents")
    )
    if merged.exceptAll(direct).count() or direct.exceptAll(merged).count():
        raise AssertionError(
            "sk13: merged per-shard samples differ from the single-pass "
            "sample — the sketch is not mergeable"
        )
    sr = merged.select(
        "cents", F.row_number().over(Window.orderBy("cents")).alias("rn")
    )
    n = base.count()  # O(1) driver scalar
    out = []
    for pct in (50, 90):
        import math

        est = sr.filter(
            F.col("rn") == math.ceil(pct / 100.0 * K)
        ).select(F.col("cents").alias("est_cents"))
        m = math.ceil(pct / 100.0 * n)
        true_row = (
            base.orderBy("cents", "k").limit(m)
            .agg(F.max(F.struct("cents", "k")).alias("s"))
            .select(F.col("s.cents").alias("true_cents"))
        )
        out.append(
            # 1-row x 1-row: broadcast keeps it the accepted
            # BNLJ-over-broadcast scalar-combine shape, never a shuffle
            est.crossJoin(F.broadcast(true_row)).select(
                F.lit(pct).cast("int").alias("q_pct"),
                "est_cents",
                "true_cents",
                F.abs(
                    F.col("est_cents") - F.col("true_cents")
                ).alias("abs_err"),
            )
        )
    return out[0].unionByName(out[1]).orderBy("q_pct")


# --- g12: cross-correlation lag profile ---------------------------------------
# The series-alignment operator every TS pipeline needs once it has two
# signals: at which day offset does click activity line up best with
# purchase activity, per user cohort? Exact-integer cross-correlation:
# both signals reduce to (cohort, epoch-day, count) grains in ONE scan,
# then a 7-lag explode joins click days to purchase days at day+lag —
# missing days contribute zero by absence, so no dense spine is needed.
# The argmax is a max(struct) over (score DESC, lag ASC) — never a
# window over the whole series. Oracle replays the same integer dot
# products declaratively.

_G12_ORACLE = """
WITH e AS (
  SELECT user_id % 8 AS cohort, event_type,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d
  FROM events),
c AS (SELECT cohort, d, CAST(COUNT(*) AS BIGINT) AS n
      FROM e WHERE event_type = 'click' GROUP BY cohort, d),
p AS (SELECT cohort, d, CAST(COUNT(*) AS BIGINT) AS n
      FROM e WHERE event_type = 'purchase' GROUP BY cohort, d),
lag_scores AS (
  SELECT c.cohort, l.lag, CAST(SUM(c.n * p.n) AS BIGINT) AS score
  FROM c
  CROSS JOIN (SELECT UNNEST(range(0, 7)) AS lag) l
  JOIN p ON p.cohort = c.cohort AND p.d = c.d + l.lag
  GROUP BY c.cohort, l.lag)
SELECT cohort,
       CAST(-((MAX({'score': score, 'neglag': -lag})).neglag)
            AS BIGINT) AS best_lag,
       (MAX({'score': score, 'neglag': -lag})).score AS best_score
FROM lag_scores GROUP BY cohort ORDER BY cohort
"""


@query(
    "g12_cross_correlation_lags", _G12_ORACLE,
    doc="cross-correlation lag profile: integer dot products of two "
        "per-cohort daily signals at lags 0-6 (explode + equi-join on "
        "day+lag; absent days are zero by absence), argmax per cohort "
        "via max(struct)",
)
def g12(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 8).alias("cohort"),
        "event_type",
        F.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000"
        ).alias("d"),
    )

    def daily(t: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == t)
            .groupBy("cohort", "d")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )

    clicks = daily("click").withColumn(
        "lag", F.explode(F.expr("sequence(0, 6)"))
    )
    buys = daily("purchase").select(
        F.col("cohort").alias("p_cohort"),
        F.col("d").alias("p_d"),
        F.col("n").alias("p_n"),
    )
    scores = (
        clicks.join(
            buys,
            (clicks.cohort == buys.p_cohort)
            & (buys.p_d == clicks.d + clicks.lag),
        )
        .groupBy("cohort", "lag")
        .agg(F.sum(F.col("n") * F.col("p_n")).cast("long").alias("score"))
    )
    # argmax with (score DESC, lag ASC) tie-break: max over
    # (score, -lag) structs — one map-side-combinable aggregate
    return (
        scores.groupBy("cohort")
        .agg(F.max(F.struct("score", (-F.col("lag")).alias("neg"))).alias("s"))
        .select(
            "cohort",
            (-F.col("s.neg")).cast("long").alias("best_lag"),
            F.col("s.score").alias("best_score"),
        )
        .orderBy("cohort")
    )


# --- g13: CUSUM changepoint detection -----------------------------------------
# The classic control-chart changepoint rule: positive CUSUM
# s_i = max(0, s_{i-1} + (x_i - target)) with alarm-and-reset when s
# exceeds h — inherently sequential, which on Spark means: reduce to day
# grain FIRST (the g12 lesson — the fold runs over the bounded day
# series, never raw events), then run the recurrence as ONE array fold
# in codegen (named_struct accumulator, exact integers). target = mean
# daily cents, h = 30% of it; the oracle replays the identical
# recurrence as a bounded recursive CTE.

_G13_ORACLE = """
WITH d AS (
  SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT)
           AS day,
         CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT)) AS BIGINT) AS c
  FROM events WHERE event_type = 'purchase' GROUP BY day),
stats AS (
  SELECT CAST(SUM(c) // COUNT(*) AS BIGINT) AS t,
         CAST((SUM(c) // COUNT(*)) * 3 // 10 AS BIGINT) AS h
  FROM d),
ord AS (SELECT day, c, ROW_NUMBER() OVER (ORDER BY day) AS i FROM d),
w AS (
  WITH RECURSIVE r(i, s, alarm, day) AS (
    SELECT o.i,
           CASE WHEN GREATEST(0, o.c - s.t) > s.h THEN 0
                ELSE GREATEST(0, o.c - s.t) END,
           CASE WHEN GREATEST(0, o.c - s.t) > s.h THEN 1 ELSE 0 END,
           o.day
    FROM ord o, stats s WHERE o.i = 1
    UNION ALL
    SELECT o.i,
           CASE WHEN GREATEST(0, r.s + o.c - s.t) > s.h THEN 0
                ELSE GREATEST(0, r.s + o.c - s.t) END,
           CASE WHEN GREATEST(0, r.s + o.c - s.t) > s.h THEN 1 ELSE 0 END,
           o.day
    FROM r JOIN ord o ON o.i = r.i + 1, stats s)
  SELECT * FROM r)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS alarm_no,
       day AS alarm_day
FROM w WHERE alarm = 1
ORDER BY alarm_no
"""


@query(
    "g13_cusum_changepoints", _G13_ORACLE,
    doc="CUSUM changepoint detection: day-grain reduction first, then "
        "the alarm-and-reset recurrence as ONE exact-integer array fold "
        "in codegen; oracle replays it as a bounded recursive CTE",
)
def g13(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    d = ev.groupBy(
        (F.unix_micros(F.col("ts").cast("timestamp"))
         / F.lit(86400000000)).cast("long").alias("day")
    ).agg(
        F.sum(
            F.floor(F.col("value") * 100.0).cast("long")
        ).cast("long").alias("c")
    )
    stats = d.agg(
        F.expr("CAST(SUM(c) DIV COUNT(*) AS BIGINT)").alias("t"),
        F.expr("CAST((SUM(c) DIV COUNT(*)) * 3 DIV 10 AS BIGINT)")
        .alias("h"),
    )
    series = d.agg(
        F.expr("sort_array(collect_list(struct(day, c)))").alias("arr")
    ).crossJoin(F.broadcast(stats))
    alarms = series.select(
        F.expr(
            "aggregate(arr, "
            "named_struct('s', 0L, 'alarms', "
            "  CAST(array() AS ARRAY<BIGINT>)), "
            "(acc, x) -> CASE "
            "  WHEN greatest(0L, acc.s + x.c - t) > h THEN "
            "    named_struct('s', 0L, "
            "      'alarms', array_append(acc.alarms, x.day)) "
            "  ELSE named_struct('s', greatest(0L, acc.s + x.c - t), "
            "      'alarms', acc.alarms) END, "
            "acc -> acc.alarms)"
        ).alias("alarms")
    )
    return alarms.select(
        F.posexplode("alarms").alias("pos", "alarm_day")
    ).select(
        (F.col("pos") + 1).cast("long").alias("alarm_no"),
        F.col("alarm_day").cast("long").alias("alarm_day"),
    ).orderBy("alarm_no")
