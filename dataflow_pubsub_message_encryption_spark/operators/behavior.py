"""Behavioral / product-analytics operators: funnel conversion, retention.

The decrypted event stream (SURVEY §2.1 R5) is exactly the clickstream
shape product analytics engines aggregate; these operators round out the
"same query capabilities" surface with the two canonical event-sequence
analyses: ordered funnel conversion and cohort retention. Both are pure
multi-stage aggregations — no windows over the whole stream, no UDFs.

Scale notes (100 TB):
- The funnel is three conditional min-aggregations chained by broadcast
  joins on user_id — each stage's survivor set only shrinks, and every
  aggregation partial-combines map-side, so the shuffles carry one row
  per user, not per event.
- Retention is two aggregations on (user) then (cohort, offset); the
  first shuffle carries a (user_id, first_day) pair per user; the second
  is distinct-count sized by cohorts × offsets. A mega-user (bot) skews
  nothing: keys are users then cohort cells.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.normalize import date_str, dec4, duck_ts, money, ts_str
from ..materialize import pin
from ..sources import load, load_events
from .base import make_registry
from .relational import _asof_best

QUERIES, ORACLES, query = make_registry()


@query(
    "window_gapfill_counts",
    """
    WITH b AS (
      SELECT CAST(date_trunc('hour', min(ts)) AS TIMESTAMP) AS mn,
             CAST(date_trunc('hour', max(ts)) AS TIMESTAMP) AS mx
      FROM events
    ),
    grid AS (
      SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h FROM b
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    c AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
             event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT strftime(g.h, '%Y-%m-%d %H:%M:%S.%f') AS window_start,
           t.event_type,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS cnt
    FROM grid g
    CROSS JOIN types t
    LEFT JOIN c ON c.h = g.h AND c.event_type = t.event_type
    """,
)
def window_gapfill_counts(spark, sf_dir):
    """Gap-filled hourly counts: the dense (hour × event_type) grid from
    the stream's first to last hour, zero-filled where no events landed —
    what dashboards and downsampling jobs need (a plain groupBy silently
    omits empty buckets). The grid derives from a 1-row min/max aggregate
    expanded with ``sequence``; both grid and type list broadcast onto
    the counts, so the only real shuffle is the counts aggregation
    itself. Grid size ∝ time span, independent of event volume — at
    100 TB the grid is still tiny while counts partial-aggregate
    map-side."""
    ev = load_events(spark, sf_dir)
    hour = F.date_trunc("hour", F.col("ts"))
    counts = ev.groupBy(
        hour.alias("h"), "event_type"
    ).agg(F.count("*").alias("n"))
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("mn"),
        F.date_trunc("hour", F.max("ts")).alias("mx"),
    )
    grid = bounds.select(
        F.explode(
            F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
        ).alias("h")
    )
    types = ev.select("event_type").distinct()
    return (
        grid.crossJoin(F.broadcast(types))
        .join(counts, ["h", "event_type"], "left")
        .select(
            ts_str("h").alias("window_start"),
            "event_type",
            F.coalesce("n", F.lit(0)).alias("cnt"),
        )
    )


@query(
    "funnel_conversion",
    """
    WITH s AS (
      SELECT user_id, min(ts) AS s_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS c_ts
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'click' AND e.ts > s.s_ts
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS p_ts
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
      GROUP BY e.user_id
    )
    SELECT CAST((SELECT count(*) FROM s) AS BIGINT) AS n_signup,
           CAST((SELECT count(*) FROM c) AS BIGINT) AS n_click_after_signup,
           CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchase_after_click
    """,
)
def funnel_conversion(spark, sf_dir):
    """Ordered funnel: users who signed up → later clicked → later
    purchased, each stage strictly after the previous stage's FIRST
    occurrence (min ts — deterministic under ties). Three conditional
    aggregations; each later stage re-scans events filtered to one type
    and joins the (tiny) survivor set from the stage before — broadcast
    at any scale, since survivors ≤ distinct users. Catalyst pushes the
    event_type filters into each scan."""
    ev = load_events(spark, sf_dir).select("user_id", "event_type", "ts")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(F.broadcast(s), "user_id")
        .filter(F.col("ts") > F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .filter(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    return (
        s.agg(F.count("*").alias("n_signup"))
        .crossJoin(c.agg(F.count("*").alias("n_click_after_signup")))
        .crossJoin(p.agg(F.count("*").alias("n_purchase_after_click")))
    )


@query(
    "retention_cohorts",
    """
    SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
           CAST(week_offset AS INTEGER) AS week_offset,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_active_users
    FROM (
      SELECT e.user_id,
             f.cohort_day,
             date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) // 7
               AS week_offset
      FROM events e
      JOIN (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
            FROM events GROUP BY user_id) f
        ON e.user_id = f.user_id
    )
    GROUP BY cohort_day, week_offset
    """,
)
def retention_cohorts(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-seen day, counted
    distinct in each subsequent week offset (0 = their first week). Two
    shuffles: per-user first-day, then the (cohort, offset) distinct
    count; the first-day table broadcasts back onto the event scan. Week
    arithmetic is integer day-difference // 7 — engine-neutral, unlike
    date_trunc('week') whose week-start convention varies."""
    ev = load_events(spark, sf_dir).select("user_id", F.col("ts").cast("date").alias("day"))
    first = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(F.broadcast(first), "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.floor(F.datediff("day", "cohort_day") / 7).alias("week_offset"),
        )
        .groupBy("cohort_day", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active_users"))
        .select(
            date_str("cohort_day").alias("cohort_day"),
            F.col("week_offset").cast("int").alias("week_offset"),
            "n_active_users",
        )
    )


@query(
    "window_gapfill_interp",
    """
    WITH b AS (
      SELECT CAST(date_trunc('hour', min(ts)) AS TIMESTAMP) AS mn,
             CAST(date_trunc('hour', max(ts)) AS TIMESTAMP) AS mx
      FROM events
    ),
    grid AS (
      SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h FROM b
    ),
    c AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h, count(*) AS n
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    j AS (
      SELECT g.h, CAST(epoch(g.h) AS BIGINT) AS hsec, c.n
      FROM grid g LEFT JOIN c ON c.h = g.h
    ),
    w AS (
      SELECT h, hsec, n,
             last_value(n IGNORE NULLS) OVER (ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN n IS NOT NULL THEN hsec END IGNORE NULLS)
               OVER (ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
             first_value(n IGNORE NULLS) OVER (ORDER BY h
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN n IS NOT NULL THEN hsec END IGNORE NULLS)
               OVER (ORDER BY h
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
      FROM j
    )
    SELECT strftime(h, '%Y-%m-%d %H:%M:%S.%f') AS window_start,
           CAST(COALESCE(n, -1) AS BIGINT) AS cnt_raw,
           round(CASE WHEN n IS NOT NULL THEN n * 1.0
                      WHEN pv IS NULL THEN nv * 1.0
                      WHEN nv IS NULL THEN pv * 1.0
                      ELSE pv + (nv - pv) * (hsec - ph) / (nh - ph)
                 END, 6) AS cnt_filled
    FROM w
    """,
)
def window_gapfill_interp(spark, sf_dir):
    """Linear-interpolation gap fill over the hourly 'purchase' count
    series — the hypertable/downsampling idiom where empty buckets take
    the value implied by their known neighbors (boundary gaps clamp to
    the nearest known value). Built from two IGNORE-NULLS window scans
    (last-known-before, first-known-after); the interpolation term is
    pure int64 arithmetic until a single double division, so both
    engines compute the identical double. The global ORDER BY window is
    single-partition by construction — acceptable because it runs over
    the GRID (∝ time span, 720 rows here), never over events; at 100 TB
    the same plan holds because the grid is still tiny."""
    ev = load_events(spark, sf_dir)
    counts = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count("*").alias("n"))
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("mn"),
        F.date_trunc("hour", F.max("ts")).alias("mx"),
    )
    grid = bounds.select(
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("h")
    )
    j = grid.join(counts, "h", "left").select(
        "h", F.unix_timestamp("h").alias("hsec"), "n"
    )
    w_prev = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    w_next = Window.orderBy("h").rowsBetween(0, Window.unboundedFollowing)
    known_hsec = F.when(F.col("n").isNotNull(), F.col("hsec"))
    w = j.select(
        "h",
        "hsec",
        "n",
        F.last("n", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(known_hsec, ignorenulls=True).over(w_prev).alias("ph"),
        F.first("n", ignorenulls=True).over(w_next).alias("nv"),
        F.first(known_hsec, ignorenulls=True).over(w_next).alias("nh"),
    )
    interp = (
        F.when(F.col("n").isNotNull(), F.col("n") * 1.0)
        .when(F.col("pv").isNull(), F.col("nv") * 1.0)
        .when(F.col("nv").isNull(), F.col("pv") * 1.0)
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (F.col("hsec") - F.col("ph"))
            / (F.col("nh") - F.col("ph"))
        )
    )
    return w.select(
        ts_str("h").alias("window_start"),
        F.coalesce("n", F.lit(-1)).cast("long").alias("cnt_raw"),
        F.round(interp, 6).alias("cnt_filled"),
    )


@query(
    "anomaly_mad_outliers",
    """
    WITH m AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    d AS (
      SELECT e.event_type, m.med, abs(e.value - m.med) AS dev
      FROM events e JOIN m USING (event_type)
    ),
    md AS (
      SELECT event_type, quantile_cont(dev, 0.5) AS mad
      FROM d GROUP BY event_type
    )
    SELECT d.event_type,
           round(min(d.med), 6) AS med,
           round(min(md.mad), 6) AS mad,
           CAST(count(CASE WHEN d.dev > 3 * md.mad THEN 1 END) AS BIGINT)
             AS n_outliers
    FROM d JOIN md USING (event_type)
    GROUP BY d.event_type
    """,
)
def anomaly_mad_outliers(spark, sf_dir):
    """Robust outlier detection per event_type: median + MAD (median
    absolute deviation), flagging |x − med| > 3·MAD. The robust-stats
    alternative to z-scores (mean/stddev are skew-fragile AND their
    float accumulation order is nondeterministic — medians interpolate
    two sorted doubles, deterministic in both engines, which is what
    makes this EXACT-checkable). Shape: two interpolated-percentile
    aggregations chained by broadcast joins of the 5-row stats tables
    back onto the scan — at 100 TB the exact median is the scale
    bottleneck (full sort per group); the production swap is
    percentile_approx for med/MAD with the same downstream plan
    (ROWS-class then, like agg_approx_percentile)."""
    ev = load_events(spark, sf_dir).select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("dev")
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("dev", F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.min("med"), 6).alias("med"),
            F.round(F.min("mad"), 6).alias("mad"),
            F.count(F.when(F.col("dev") > 3 * F.col("mad"), 1)).alias(
                "n_outliers"
            ),
        )
    )


@query(
    "sessionize_gap_sql",
    """
    WITH s AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('microseconds', lag(ts) OVER w, ts)
                       > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    t AS (
      SELECT user_id, ts, event_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      FROM s
    )
    SELECT user_id, CAST(session_idx AS INTEGER) AS session_idx,
           count(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           date_diff('microseconds', min(ts), max(ts)) AS duration_us
    FROM t GROUP BY user_id, session_idx
    """,
)
def sessionize_gap_sql(spark, sf_dir):
    """Gap-based sessionization in pure SQL windows (the batch twin of
    the streaming ``session_window`` in R8's family): a session breaks
    after >30 min of inactivity; session ids are the running sum of
    break flags — the canonical lag-then-cumsum idiom, one shuffle on
    user_id, exact in both engines because gaps and durations are
    INTEGER MICROSECOND diffs (``timestampdiff`` ↔ ``date_diff``; a
    float ``epoch()`` would round where Spark truncates) over NTZ
    timestamps, ties broken by event_id. At 100 TB sessionization
    partitions by user — skew only from bot users, the documented
    salting/AQE case."""
    ev = load_events(spark, sf_dir).select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.expr("timestampdiff(MICROSECOND, lag(ts) OVER "
                    "(PARTITION BY user_id ORDER BY ts, event_id), ts)")
    is_new = F.when(gap_us.isNull() | (gap_us > 1800 * 1_000_000), 1).otherwise(0)
    t = ev.withColumn(
        "session_idx",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return t.groupBy(
        "user_id", F.col("session_idx").cast("int").alias("session_idx")
    ).agg(
        F.count("*").alias("n_events"),
        ts_str(F.min("ts")).alias("session_start"),
        F.expr("timestampdiff(MICROSECOND, min(ts), max(ts))").alias(
            "duration_us"
        ),
    )


@query(
    "agg_value_histogram",
    """
    SELECT event_type,
           CAST(floor(value / 25.0) AS INTEGER) AS bucket,
           CAST(round(floor(value / 25.0) * 25.0, 2) AS DOUBLE) AS bucket_lo,
           count(*) AS n
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def agg_value_histogram(spark, sf_dir):
    """Fixed-width value histogram per event_type — the profiling /
    distribution-QA primitive. Bucketing is ``floor(value / width)``:
    one deterministic double division (2dp-clean fixture values never
    sit on a floor boundary's representation edge), fully inside
    whole-stage codegen, and the groupBy partial-aggregates map-side so
    shuffle volume is |types| × |buckets| regardless of event count."""
    ev = load_events(spark, sf_dir)
    bucket = F.floor(F.col("value") / 25.0)
    return ev.groupBy(
        "event_type",
        bucket.cast("int").alias("bucket"),
        money(bucket * 25.0).alias("bucket_lo"),
    ).agg(F.count("*").alias("n"))


@query(
    "market_basket_pairs",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           count(*) AS n_orders
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING count(*) >= 2
    """,
)
def market_basket_pairs(spark, sf_dir):
    """Market-basket co-occurrence: part pairs bought together in ≥2
    orders. The pair explosion is the textbook scale hazard; the shape
    that survives 100 TB is (1) distinct items first (kills duplicate
    lines), (2) equi-self-join keyed on the ORDER (pairs never cross
    orders, so the blow-up is Σ k_i² over per-order item counts k_i ≤ 13
    here — bounded by basket size, not table size), (3) ``<`` dedups
    mirrored pairs at generation instead of a post-hoc distinct, (4)
    count with map-side partials + a HAVING floor so only support ≥ 2
    survives the final shuffle."""
    items = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = items.alias("a")
    b = items.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )


@query(
    "window_rollup_multires",
    """
    SELECT CASE WHEN GROUPING(h) = 0 THEN 'hour' ELSE 'day' END AS resolution,
           strftime(COALESCE(h, d), '%Y-%m-%d %H:%M:%S.%f') AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(round(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_value
    FROM (
      SELECT event_type,
             CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
             value
      FROM events
    )
    GROUP BY GROUPING SETS ((event_type, h), (event_type, d))
    """,
)
def window_rollup_multires(spark, sf_dir):
    """Multi-resolution time rollup — the hypertable continuous-aggregate
    shape: hourly AND daily (event_type, window) aggregates from ONE scan
    via GROUPING SETS (Catalyst's Expand: each row feeds both
    granularities before the partial agg, so the shuffle carries two
    pre-combined granularities, never two scans). ``grouping()``
    disambiguates the resolution. At 100 TB this is strictly better than
    a per-resolution job chain; the day rows could also be derived by
    re-aggregating hour rows (the cascade the day grain admits), which
    Spark expresses as a second tiny agg over this result."""
    ev = load_events(spark, sf_dir).select(
        "event_type",
        F.date_trunc("hour", "ts").alias("h"),
        F.date_trunc("day", "ts").alias("d"),
        F.col("value").cast("decimal(18,4)").alias("v"),
    )
    g = ev.groupingSets(
        [["event_type", "h"], ["event_type", "d"]], "event_type", "h", "d"
    ).agg(
        F.count("*").alias("n_events"),
        F.sum("v").alias("sv"),
        F.grouping("h").alias("gh"),  # grouping() only resolves inside the agg
    )
    return g.select(
        F.when(F.col("gh") == 0, "hour").otherwise("day").alias("resolution"),
        F.coalesce(ts_str("h"), ts_str("d")).alias("window_start"),
        "event_type",
        "n_events",
        money("sv").alias("total_value"),
    )


@query(
    "events_transition_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    c AS (
      SELECT prev_type, event_type AS next_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
           CAST(round(CAST(n AS DOUBLE)
                      / sum(n) OVER (PARTITION BY prev_type), 6) AS DOUBLE)
             AS p
    FROM c
    """,
)
def events_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over the event stream:
    P(next_type | prev_type) from per-user consecutive event pairs — the
    sequence-model / anomaly-baseline primitive (a session whose
    transitions are improbable under this matrix is a bot candidate).
    Shape: one ``lag`` window partitioned by user (the same shuffle
    sessionization already pays — at 100 TB these share one
    user-partitioned stage), then a |types|²-sized aggregate and a
    per-row normalizing window over that tiny matrix. Determinism: ties
    in the event order are broken by event_id; the normalizer is an
    INTEGER sum, so the single double division is exact cross-engine."""
    ev = load_events(spark, sf_dir).select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    c = seq.groupBy("prev_type", "next_type").agg(F.count("*").alias("n"))
    wnorm = Window.partitionBy("prev_type")
    return c.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wnorm), 6).alias("p"),
    )


# per-user sequence cap: rows beyond the first _SEQ_CAP events (in (ts,
# event_id) order) never enter the aggregation, so a pathological bot user
# bounds at _SEQ_CAP bytes of state instead of an unbounded collect_list.
_SEQ_CAP = 10_000


def _pattern_match(ev, cap: int = _SEQ_CAP):
    wcap = Window.partitionBy("user_id").orderBy("ts", "event_id")
    capped = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("rn", F.row_number().over(wcap))
        .filter(F.col("rn") <= cap)
    )
    seq = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "ts",
                        "event_id",
                        F.substring("event_type", 1, 1).alias("ch"),
                    )
                )
            ),
            lambda s: s.getField("ch"),
        ),
        "",
    )
    return (
        capped.groupBy("user_id")
        .agg(seq.alias("seq"))
        .select(
            "user_id",
            F.length("seq").alias("n_events"),
            F.size(F.regexp_extract_all("seq", F.lit("vc+p"), 0)).alias(
                "n_click_funnels"
            ),
            F.col("seq").rlike("p.*e").alias("error_after_purchase"),
        )
    )


@query(
    "events_pattern_match",
    f"""
    SELECT user_id,
           CAST(length(seq) AS INTEGER) AS n_events,
           CAST(len(regexp_extract_all(seq, 'vc+p')) AS INTEGER)
             AS n_click_funnels,
           regexp_matches(seq, 'p.*e') AS error_after_purchase
    FROM (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS seq
      FROM (
        SELECT user_id, event_type, ts, event_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
      ) WHERE rn <= {_SEQ_CAP}
      GROUP BY user_id
    )
    """,
)
def events_pattern_match(spark, sf_dir):
    """Sequence-pattern matching over per-user event strings — the batch
    answer to MATCH_RECOGNIZE / CEP engines: each user's history becomes
    an ordered character string (event types have distinct initials:
    c/e/p/s/v) and patterns are plain regexes — here the view→clicks→
    purchase funnel count ('vc+p', non-overlapping) and an
    error-after-purchase flag ('p.*e'). Encoding sequences as strings
    turns arbitrary order-sensitive pattern queries into one groupBy +
    codegen'd regex — no iterative joins, no UDF.

    Determinism: the sequence is built by sorting (ts, event_id, char)
    structs — a total order both engines replicate exactly (ORDER BY ts,
    event_id) — and the regexes use only portable constructs (literal
    chars, +, .*) that Java and RE2 match identically, left-to-right
    non-overlapping. Scale: one shuffle on user_id; per-user state is the
    event-type string (1 byte/event) — a 10k-event user is 10 KB, and a
    pathological bot user is the documented mega-group hazard, capped by a
    row_number() <= _SEQ_CAP filter BEFORE the aggregation (the window
    sort shares the groupBy's user_id shuffle, and its sort spills; the
    collect_list then never sees more than _SEQ_CAP rows per user). The
    oracle applies the identical cap, so the query stays EXACT at any
    scale; tests/test_behavior.py pins the truncation on a synthetic
    mega-user and output-identity with the uncapped form on fixtures."""
    return _pattern_match(load_events(spark, sf_dir))


@query(
    "window_rolling_zscore",
    """
    SELECT user_id, event_id, CAST(n_frame AS BIGINT) AS n_frame, z
    FROM (
      SELECT user_id, event_id, n_frame, mean, var,
             CASE WHEN var > 0
                  THEN round((x - mean) / sqrt(var), 6) END AS z
      FROM (
        SELECT user_id, event_id, n_frame, x,
               CAST(s AS DOUBLE) / n_frame AS mean,
               (CAST(s2 AS DOUBLE) - n_frame *
                  (CAST(s AS DOUBLE) / n_frame) * (CAST(s AS DOUBLE) / n_frame))
                 / n_frame AS var
        FROM (
          SELECT user_id, event_id,
                 CAST(CAST(value AS DECIMAL(18,4)) AS DOUBLE) AS x,
                 count(*) OVER w AS n_frame,
                 SUM(CAST(value AS DECIMAL(18,4))) OVER w AS s,
                 SUM(CAST(value AS DECIMAL(18,4)) *
                     CAST(value AS DECIMAL(18,4))) OVER w AS s2
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
        )
      )
    )
    """,
)
def window_rolling_zscore(spark, sf_dir):
    """Rolling normalization — each event's value z-scored against the
    user's trailing 6-event frame (5 preceding + current): the standard
    online feature-engineering / anomaly primitive (a purchase 3 sigma
    above the user's own recent baseline flags, regardless of global
    scale). One window pass per user, ROWS frame.

    Exactness discipline: frame sums use DECIMAL(18,4) (exact, order-
    independent); mean and variance then run the IDENTICAL double-op
    sequence in both engines (cast, divide, multiply, subtract), and the
    final z is 6dp-rounded with var>0 guarding degenerate frames. A
    naive double SUM() OVER would diverge — window sums accumulate in
    engine-specific order. At 100 TB: one shuffle on user_id shared with
    everything else keyed by user; the ROWS frame is O(1) running state
    per partition row."""
    ev = load_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-5, 0)
    )
    xdec = dec4("value")
    base = ev.select(
        "user_id",
        "event_id",
        xdec.cast("double").alias("x"),
        F.count("*").over(w).alias("n_frame"),
        F.sum(xdec).over(w).alias("s"),
        F.sum(xdec * xdec).over(w).alias("s2"),
    )
    mean = F.col("s").cast("double") / F.col("n_frame")
    var = (
        F.col("s2").cast("double") - F.col("n_frame") * mean * mean
    ) / F.col("n_frame")
    return base.select(
        "user_id",
        "event_id",
        "n_frame",
        F.when(var > 0, F.round((F.col("x") - mean) / F.sqrt(var), 6)).alias(
            "z"
        ),
    )


@query(
    "funnel_time_to_convert",
    """
    WITH s AS (
      SELECT user_id, min(ts) AS s_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id,
             min(date_diff('microseconds', s.s_ts, e.ts)) AS delta_us
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s.s_ts
      GROUP BY e.user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           CAST(min(delta_us) AS BIGINT) AS min_us,
           CAST(max(delta_us) AS BIGINT) AS max_us,
           CAST(SUM(delta_us) // count(*) AS BIGINT) AS mean_us_floor
    FROM p
    """,
)
def funnel_time_to_convert(spark, sf_dir):
    """Time-to-convert distribution for the signup -> first-purchase
    funnel: per converting user the integer-microsecond delay from first
    signup to the first LATER purchase, summarized as count/min/max/
    floored mean — the latency census growth analytics reads next to the
    conversion rate (funnel_conversion). All-integer arithmetic
    (timestampdiff ↔ date_diff microseconds; floored integer mean), so
    the summary is exact cross-engine. Shape: two conditional
    aggregations chained by a broadcast of the (tiny) signup survivor
    set — one row per converting user reaches the final 1-row fold."""
    ev = load_events(spark, sf_dir).select("user_id", "event_type", "ts")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(s), "user_id")
        .filter(F.col("ts") > F.col("s_ts"))
        .groupBy("user_id")
        .agg(
            F.min(
                F.expr("timestampdiff(MICROSECOND, s_ts, ts)")
            ).alias("delta_us")
        )
    )
    return p.agg(
        F.count("*").alias("n_converted"),
        F.min("delta_us").alias("min_us"),
        F.max("delta_us").alias("max_us"),
        F.expr("sum(delta_us) div count(*)").alias("mean_us_floor"),
    )


@query(
    "orders_backlog_daily",
    """
    WITH ship AS (
      SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS last_ship
      FROM lineitem GROUP BY 1
    ),
    iv AS (
      SELECT CAST(o.o_orderdate AS DATE) AS start_d, s.last_ship
      FROM orders o JOIN ship s ON s.l_orderkey = o.o_orderkey
    ),
    deltas AS (
      SELECT start_d AS d, 1 AS delta FROM iv
      UNION ALL
      SELECT last_ship + 1, -1 FROM iv
    ),
    daily AS (SELECT d, SUM(delta) AS delta FROM deltas GROUP BY d)
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(delta AS BIGINT) AS net_delta,
           CAST(SUM(delta) OVER (ORDER BY d
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS backlog
    FROM daily
    """,
)
def orders_backlog_daily(spark, sf_dir):
    """Open-order backlog over time — the concurrent-intervals analytic
    (how many orders are placed but not yet fully shipped on each day),
    computed the scalable way: each order contributes a +1 delta at its
    order date and a -1 the day after its LAST line ships; per-day
    deltas aggregate with map-side combine, and the running sum runs
    over the DAY-level table (thousands of rows), not the fact table —
    the single-partition window is merge-stage-only, the same documented
    shape as agg_quantile_sketch_union. Interval counting via deltas is
    O(n) against the naive per-day interval join's O(n x days). All
    integers, exact cross-engine."""
    li = load(spark, sf_dir, "lineitem")
    ship = li.groupBy("l_orderkey").agg(
        F.max(F.col("l_shipdate").cast("date")).alias("last_ship")
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("start_d")
    )
    iv = orders.join(ship, orders.o_orderkey == ship.l_orderkey)
    deltas = iv.select(
        F.col("start_d").alias("d"), F.lit(1).alias("delta")
    ).unionByName(
        iv.select(F.date_add("last_ship", 1).alias("d"), F.lit(-1).alias("delta"))
    )
    daily = deltas.groupBy("d").agg(F.sum("delta").alias("delta"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        date_str("d").alias("day"),
        F.col("delta").cast("long").alias("net_delta"),
        F.sum("delta").over(w).cast("long").alias("backlog"),
    )


@query(
    "audience_overlap_matrix",
    """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    sizes AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS n_both,
           round(CAST(count(*) AS DOUBLE)
                 / ((SELECT n FROM sizes WHERE event_type = a.event_type)
                    + (SELECT n FROM sizes WHERE event_type = b.event_type)
                    - count(*)), 6) AS jaccard
    FROM ut a JOIN ut b ON a.user_id = b.user_id
                       AND a.event_type < b.event_type
    GROUP BY a.event_type, b.event_type
    """,
)
def audience_overlap_matrix(spark, sf_dir):
    """Audience overlap — for every pair of event types, how many users
    did BOTH, plus the audience Jaccard: the segment-overlap matrix ad /
    growth analytics reads before building composite audiences. Shape:
    distinct (user, type) pairs (one partial-aggregating shuffle on
    user), a user-keyed self-join whose per-user fan-out is bounded by
    |types|² (5 types → ≤10 pairs/user), then a |types|²-cell aggregate
    with the tiny per-type sizes broadcast back. At 100 TB the heavy
    stage is the distinct — everything after runs on cells. The Jaccard
    denominator is |A|+|B|−|A∩B|, all integers; one rounded double
    division."""
    ev = load_events(spark, sf_dir)
    ut = ev.select("user_id", "event_type").distinct()
    sizes = ut.groupBy("event_type").agg(F.count("*").alias("n"))
    both = (
        ut.alias("a")
        .join(
            ut.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("n_both"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb"))
    return (
        both.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(
                F.col("n_both").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_both")),
                6,
            ).alias("jaccard"),
        )
    )


@query(
    "events_iat_stats",
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(min(gap_us) AS BIGINT) AS min_gap_us,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us,
           CAST(SUM(gap_us) // count(*) AS BIGINT) AS mean_gap_us_floor
    FROM (
      SELECT user_id,
             date_diff('microseconds', lag(ts) OVER w, ts) AS gap_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ) WHERE gap_us IS NOT NULL
    GROUP BY user_id
    """,
)
def events_iat_stats(spark, sf_dir):
    """Inter-arrival-time census per user: gap count, min/max, floored
    mean (integer microseconds) — the bot-detection / engagement-cadence
    signal (a scripted client's min gap is machine-small; a human's is
    not). One lag window on the user-partitioned shuffle every
    event-sequence operator already pays, then a per-user integer
    aggregate. All-integer arithmetic — exact cross-engine."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        F.expr(
            "timestampdiff(MICROSECOND, lag(ts) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id), ts)"
        ).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count("*").alias("n_gaps"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
        F.expr("sum(gap_us) div count(*)").alias("mean_gap_us_floor"),
    )


@query(
    "events_longest_streaks",
    """
    WITH s AS (
      SELECT user_id, event_type, ts, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id)
             - row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS isl
      FROM events
    ),
    runs AS (
      SELECT user_id, event_type, count(*) AS run_len
      FROM s GROUP BY user_id, event_type, isl
    )
    SELECT user_id, event_type,
           CAST(max(run_len) AS BIGINT) AS longest_streak,
           CAST(count(*) AS BIGINT) AS n_streaks
    FROM runs GROUP BY user_id, event_type
    """,
)
def events_longest_streaks(spark, sf_dir):
    """Longest consecutive same-type runs per (user, type) — streak
    analytics (engagement streaks, repeated-error runs, bot loops) via
    the classic two-row_number gaps-and-islands difference: consecutive
    same-type events share (global_rn - per-type_rn), so runs fall out
    of one groupBy. Both windows ride the SAME user_id shuffle; the run
    and streak aggregations partial-combine. All integers, total order
    tie-broken by event_id — exact cross-engine."""
    ev = load_events(spark, sf_dir)
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_typ = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    s = ev.select(
        "user_id",
        "event_type",
        (F.row_number().over(w_all) - F.row_number().over(w_typ)).alias("isl"),
    )
    runs = s.groupBy("user_id", "event_type", "isl").agg(
        F.count("*").alias("run_len")
    )
    return runs.groupBy("user_id", "event_type").agg(
        F.max("run_len").alias("longest_streak"),
        F.count("*").alias("n_streaks"),
    )


@query(
    "events_growth_accounting",
    """
    WITH uw AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
               AS week
      FROM events
    ),
    marked AS (
      SELECT user_id, week,
             min(week) OVER (PARTITION BY user_id) AS first_week,
             lag(week) OVER (PARTITION BY user_id ORDER BY week) AS prev_week
      FROM uw
    ),
    states AS (
      SELECT week,
             CASE WHEN week = first_week THEN 'new'
                  WHEN prev_week = week - 1 THEN 'retained'
                  ELSE 'resurrected' END AS state
      FROM marked
    ),
    churn AS (
      SELECT m.week + 1 AS week, count(*) AS n_churned
      FROM marked m
      WHERE NOT EXISTS (SELECT 1 FROM uw
                        WHERE uw.user_id = m.user_id
                          AND uw.week = m.week + 1)
        AND m.week + 1 <= (SELECT max(week) FROM uw)
      GROUP BY m.week + 1
    ),
    activity AS (
      SELECT week,
             CAST(SUM(CASE WHEN state = 'new' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new,
             CAST(SUM(CASE WHEN state = 'retained' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_retained,
             CAST(SUM(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_resurrected
      FROM states GROUP BY week
    )
    SELECT CAST(a.week AS INTEGER) AS week, a.n_new, a.n_retained,
           a.n_resurrected,
           CAST(COALESCE(c.n_churned, 0) AS BIGINT) AS n_churned
    FROM activity a LEFT JOIN churn c ON c.week = a.week
    """,
)
def events_growth_accounting(spark, sf_dir):
    """Growth accounting — THE weekly active-user decomposition every
    product/growth team maintains: each week's actives split into new
    (first-ever week), retained (also active the week before), and
    resurrected (returning after a gap), plus churned (active last week,
    absent this week; attributed to the week they went missing, capped
    at the observed horizon). The identity actives(w) = new + retained +
    resurrected and the cross-week conservation retained(w) =
    actives(w−1) − churned(w) make the table self-auditing (pinned in
    tests). Shape: one distinct (user, week) reduction of the fact
    table (map-side partial), ONE user-partitioned window pass for
    first/prev week, an anti-join-shaped churn count, and |weeks|-sized
    aggregates — the event table is scanned once and everything after
    the reduction is user-rows, not events."""
    uw = (
        load_events(spark, sf_dir)
        .select(
            "user_id",
            # epoch-day // 7: engine-neutral week id (days are non-negative,
            # so floor-div matches DuckDB's //)
            F.floor(
                F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
                / 7
            )
            .cast("long")
            .alias("week"),
        )
        .distinct()
    )
    wfirst = Window.partitionBy("user_id")
    wlag = Window.partitionBy("user_id").orderBy("week")
    marked = uw.select(
        "user_id",
        "week",
        F.min("week").over(wfirst).alias("first_week"),
        F.lag("week").over(wlag).alias("prev_week"),
    )
    state = (
        F.when(F.col("week") == F.col("first_week"), "new")
        .when(F.col("prev_week") == F.col("week") - 1, "retained")
        .otherwise("resurrected")
    )
    activity = marked.select("week", state.alias("state")).groupBy("week").agg(
        F.sum(F.when(F.col("state") == "new", 1).otherwise(0)).alias("n_new"),
        F.sum(F.when(F.col("state") == "retained", 1).otherwise(0)).alias(
            "n_retained"
        ),
        F.sum(F.when(F.col("state") == "resurrected", 1).otherwise(0)).alias(
            "n_resurrected"
        ),
    )
    horizon = uw.agg(F.max("week").alias("mx"))
    churn = (
        marked.select("user_id", (F.col("week") + 1).alias("week"))
        .join(uw, ["user_id", "week"], "left_anti")
        .crossJoin(F.broadcast(horizon))
        .filter(F.col("week") <= F.col("mx"))
        .groupBy("week")
        .agg(F.count("*").alias("n_churned"))
    )
    return (
        activity.join(churn, "week", "left")
        .select(
            F.col("week").cast("int").alias("week"),
            "n_new",
            "n_retained",
            "n_resurrected",
            F.coalesce("n_churned", F.lit(0)).cast("long").alias("n_churned"),
        )
    )


@query(
    "events_peak_concurrency",
    """
    WITH s AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('microseconds', lag(ts) OVER w, ts)
                       > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    t AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM s
    ),
    sess AS (
      SELECT user_id, sid,
             date_diff('microseconds', TIMESTAMP '1970-01-01', min(ts))
               AS st,
             date_diff('microseconds', TIMESTAMP '1970-01-01', max(ts))
               AS en
      FROM t GROUP BY user_id, sid
    ),
    bounds AS (
      SELECT st AS t, 1 AS d, user_id, sid FROM sess
      UNION ALL
      SELECT en, -1, user_id, sid FROM sess
    ),
    r AS (
      SELECT t, SUM(d) OVER (ORDER BY t, d DESC, user_id, sid
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
      FROM bounds
    )
    SELECT CAST(t // 86400000000 AS INTEGER) AS day,
           CAST(max(conc) AS INTEGER) AS peak_concurrent
    FROM r GROUP BY 1
    """,
)
def events_peak_concurrency(spark, sf_dir):
    """Peak concurrent sessions per day — the capacity-planning number
    (licenses, connection pools, live-ops dashboards): sessions from the
    proven 30-minute-gap sessionization, converted to +1/−1 boundary
    deltas, a running sum over the boundary stream, and the per-day max.
    Same-instant boundaries process starts before ends (ORDER BY t,
    d DESC), so touching sessions count as concurrent; within an equal
    (t, d) block the running sum's intermediate order is arbitrary but
    the per-day MAX is permutation-invariant (the +1 block's maximum is
    its end), so the result is deterministic — the remaining (user, sid)
    tie-break keys just pin both engines to one order. Shape: the
    boundary table is 2×|sessions| rows (events reduce per user first),
    but session grain is UNBOUNDED at 100 TB, so the running sum is
    delegated to :func:`~..scale._global_cumsum` (range repartition on
    the boundary order, per-partition integer prefix sums in parallel,
    bounded offset fix-up) — no single-partition WindowExec anywhere;
    the oracle keeps the plain ``SUM() OVER (ORDER BY)`` form so
    equality with the windowed semantics is proven."""
    ev = load_events(spark, sf_dir)
    wl = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.expr(
        "timestampdiff(MICROSECOND, lag(ts) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id), ts)"
    )
    s = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    t = s.withColumn(
        "sid",
        F.sum("is_new").over(
            wl.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    us = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {})"
    sess = t.groupBy("user_id", "sid").agg(
        F.expr(us.format("min(ts)")).alias("st"),
        F.expr(us.format("max(ts)")).alias("en"),
    )
    bounds = sess.select(
        F.col("st").alias("t"), F.lit(1).alias("d"), "user_id", "sid"
    ).unionByName(
        sess.select(
            F.col("en").alias("t"), F.lit(-1).alias("d"), "user_id", "sid"
        )
    )
    from .scale import _global_cumsum

    r = _global_cumsum(
        bounds, "d", F.col("t"), F.desc("d"), F.col("user_id"), F.col("sid")
    )
    return r.groupBy(
        F.expr("t DIV 86400000000").cast("int").alias("day")
    ).agg(F.max("cum").cast("int").alias("peak_concurrent"))


@query(
    "events_bot_score_flags",
    """
    WITH g AS (
      SELECT user_id,
             date_diff('microseconds',
                       lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id), ts) AS gap
      FROM events
    ),
    iat AS (
      SELECT user_id, count(gap) AS n_gaps, min(gap) AS min_gap,
             SUM(gap) // count(gap) AS mean_gap
      FROM g WHERE gap IS NOT NULL GROUP BY user_id
    ),
    runs AS (
      SELECT user_id, max(run_len) AS max_streak FROM (
        SELECT user_id, count(*) AS run_len FROM (
          SELECT user_id, event_type,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id)
                 - row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) AS grp
          FROM events
        ) GROUP BY user_id, event_type, grp
      ) GROUP BY user_id
    )
    SELECT i.user_id,
           CAST(i.n_gaps + 1 AS BIGINT) AS n_events,
           CAST(i.min_gap AS BIGINT) AS min_gap_us,
           CAST(i.mean_gap AS BIGINT) AS mean_gap_us,
           CAST(r.max_streak AS INTEGER) AS max_streak,
           (CASE WHEN i.min_gap < 60000000 THEN 1 ELSE 0 END
            + CASE WHEN i.mean_gap < 3600000000 THEN 1 ELSE 0 END
            + CASE WHEN r.max_streak >= 5 THEN 1 ELSE 0 END) >= 2 AS bot_flag
    FROM iat i JOIN runs r USING (user_id)
    """,
)
def events_bot_score_flags(spark, sf_dir):
    """Composite bot-likelihood flags — the rule-based fraud/abuse screen
    that composes the engine's cadence signals into one verdict per
    user: sub-minute minimum inter-arrival gap, sub-hour mean gap, and a
    ≥5-event same-type streak each contribute a point; two of three
    flags the user (the thresholds are the tunable policy; the SHAPES
    are the point). All three signals come off the SAME user-partitioned
    shuffle — one lag pass for gaps, the two-row_number gaps-and-islands
    for streaks — then a |users|-sized join. Integer µs throughout
    (floored mean), so the verdict is cross-engine exact. At 100 TB the
    per-user reductions partial-aggregate; no signal ever re-shuffles
    raw events."""
    ev = load_events(spark, sf_dir)
    wl = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.expr(
        "timestampdiff(MICROSECOND, lag(ts) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id), ts)"
    )
    iat = (
        ev.select("user_id", gap.alias("gap"))
        .filter(F.col("gap").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("gap").alias("n_gaps"),
            F.min("gap").alias("min_gap"),
            F.expr("SUM(gap) DIV count(gap)").alias("mean_gap"),
        )
    )
    wt = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    runs = (
        ev.select(
            "user_id",
            "event_type",
            (F.row_number().over(wl) - F.row_number().over(wt)).alias("grp"),
        )
        .groupBy("user_id", "event_type", "grp")
        .agg(F.count("*").alias("run_len"))
        .groupBy("user_id")
        .agg(F.max("run_len").alias("max_streak"))
    )
    score = (
        F.when(F.col("min_gap") < 60_000_000, 1).otherwise(0)
        + F.when(F.col("mean_gap") < 3_600_000_000, 1).otherwise(0)
        + F.when(F.col("max_streak") >= 5, 1).otherwise(0)
    )
    return (
        iat.join(runs, "user_id")
        .select(
            "user_id",
            (F.col("n_gaps") + 1).cast("long").alias("n_events"),
            F.col("min_gap").cast("long").alias("min_gap_us"),
            F.col("mean_gap").cast("long").alias("mean_gap_us"),
            F.col("max_streak").cast("int").alias("max_streak"),
            (score >= 2).alias("bot_flag"),
        )
    )


@query(
    "basket_affinity_lift",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n_ord AS (SELECT count(DISTINCT l_orderkey) AS n FROM items),
    supp AS (SELECT l_partkey, count(*) AS s FROM items GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             count(*) AS n_both
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 3
    )
    SELECT p.part_a, p.part_b,
           CAST(p.n_both AS BIGINT) AS n_both,
           CAST(sa.s AS BIGINT) AS n_a,
           CAST(sb.s AS BIGINT) AS n_b,
           round(CAST(p.n_both AS DOUBLE) / sa.s, 6) AS confidence_a_to_b,
           round(CAST(p.n_both AS DOUBLE) * n_ord.n / (sa.s * sb.s), 6)
             AS lift
    FROM pairs p
    JOIN supp sa ON sa.l_partkey = p.part_a
    JOIN supp sb ON sb.l_partkey = p.part_b, n_ord
    """,
)
def basket_affinity_lift(spark, sf_dir):
    """Association-rule metrics over the co-occurrence pairs — the step
    that turns ``market_basket_pairs``'s raw counts into decisions:
    confidence(A→B) = P(B|A) and lift = P(A,B)/(P(A)·P(B)), where
    lift > 1 is genuine affinity and lift ≈ 1 is two independently
    popular parts (raw counts can't tell these apart — the classic
    beer-diapers correction). All ratios derive from exact integer
    counts (pair support floor 3, per-part supports, total basket
    count as a broadcast 1-row aggregate), divided once and rounded —
    no float accumulations. Shapes: the bounded-basket pair join from
    the pairs op, plus two broadcast support lookups."""
    items = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_ord = items.agg(F.count_distinct("l_orderkey").alias("n"))
    supp = items.groupBy("l_partkey").agg(F.count("*").alias("s"))
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= 3)
    )
    sa = supp.select(F.col("l_partkey").alias("part_a"), F.col("s").alias("n_a"))
    sb = supp.select(F.col("l_partkey").alias("part_b"), F.col("s").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "part_a")
        .join(F.broadcast(sb), "part_b")
        .crossJoin(F.broadcast(n_ord))
        .select(
            "part_a",
            "part_b",
            "n_both",
            "n_a",
            "n_b",
            F.round(F.col("n_both").cast("double") / F.col("n_a"), 6).alias(
                "confidence_a_to_b"
            ),
            F.round(
                F.col("n_both").cast("double")
                * F.col("n")
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


@query(
    "events_rapid_repeat_pairs",
    """
    SELECT a.user_id, a.event_type,
           a.event_id AS event_a, b.event_id AS event_b,
           date_diff('microseconds', a.ts, b.ts) AS gap_us
    FROM events a JOIN events b
      ON b.user_id = a.user_id
     AND b.event_type = a.event_type
     AND a.event_id < b.event_id
     AND b.ts >= a.ts
     AND date_diff('microseconds', a.ts, b.ts) <= 600000000
    WHERE a.event_type IN ('purchase', 'signup')
      AND b.event_type IN ('purchase', 'signup')
    """,
)
def events_rapid_repeat_pairs(spark, sf_dir):
    """Double-submit screen — the idempotency auditor for state-changing
    actions: pairs of SAME-user SAME-type purchase/signup events within
    10 minutes (retried checkout, double-click, replayed webhook — the
    at-least-once-delivery symptom R11's stateful dedup exists to
    prevent, here measured on the batch log). The type filter pushes to
    both scans BEFORE the self-join, so the join input is the
    purchase+signup slice only; the join keys on (user, type) with the
    time proximity residual and ``<`` emit-once orientation — candidate
    blow-up bounded by per-user action counts, not table size. Integer-µs
    gaps keep the pair set cross-engine exact. At 100 TB add a coarse
    time-bucket to the join key (the join_range_binned rewrite) so the
    residual never sees cross-day pairs."""
    ev = load_events(spark, sf_dir).filter(
        F.col("event_type").isin("purchase", "signup")
    ).select("user_id", "event_type", "event_id", "ts")
    a, b = ev.alias("a"), ev.alias("b")
    gap = F.expr("timestampdiff(MICROSECOND, a.ts, b.ts)")
    return (
        a.join(
            b,
            (F.col("b.user_id") == F.col("a.user_id"))
            & (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("a.event_id") < F.col("b.event_id"))
            & (F.col("b.ts") >= F.col("a.ts"))
            & (gap <= 600_000_000),
        )
        .select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.event_type").alias("event_type"),
            F.col("a.event_id").alias("event_a"),
            F.col("b.event_id").alias("event_b"),
            gap.alias("gap_us"),
        )
    )


@query(
    "events_top_paths",
    """
    WITH seq AS (
      SELECT event_type AS t1,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT path, n_occurrences FROM (
      SELECT t1 || '>' || t2 || '>' || t3 AS path,
             CAST(count(*) AS BIGINT) AS n_occurrences
      FROM seq WHERE t2 IS NOT NULL AND t3 IS NOT NULL
      GROUP BY 1
    ) ORDER BY n_occurrences DESC, path LIMIT 10
    """,
)
def events_top_paths(spark, sf_dir):
    """Top-10 most-travelled 3-step event paths — the clickstream
    path-analysis table (what leads to purchase? where do signups come
    from?) that generalizes ``events_transition_matrix``'s 2-step edges to
    path n-grams. Each user's stream yields its consecutive type trigrams
    via two leads over ONE per-user window pass (no self-joins — the
    window is partitioned by user, parallel across keys); the global census
    partial-aggregates to ≤ |types|³ = 125 path rows, and the top-10 is
    TakeOrdered, never a global sort. At 100 TB the only real shuffle is
    the per-user window's — the same one sessionization already pays —
    and the path census rides map-side combine."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t2").isNotNull() & F.col("t3").isNotNull())
    return (
        seq.select(
            F.concat_ws(">", "t1", "t2", "t3").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "path")
        .limit(10)
    )


@query(
    "events_seasonal_anomaly",
    """
    WITH cells AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day,
             CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
             CAST(hour(ts) AS INTEGER) AS hour,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2, 3
    ),
    base AS (
      SELECT dow, hour, CAST(SUM(n_events) AS DOUBLE) / count(*) AS avg_n
      FROM cells GROUP BY 1, 2
    )
    SELECT c.day, c.dow, c.hour, c.n_events,
           round(b.avg_n, 6) AS baseline,
           round(c.n_events / b.avg_n, 6) AS ratio
    FROM cells c JOIN base b USING (dow, hour)
    WHERE c.n_events / b.avg_n >= 1.5 OR c.n_events / b.avg_n <= 0.6
    """,
)
def events_seasonal_anomaly(spark, sf_dir):
    """Seasonal-baseline anomaly flags: each (day, hour) traffic cell
    compared against its own (day-of-week, hour) seasonal average — the
    production alerting shape ``events_hourly_seasonality`` builds the
    grid FOR: 'Tuesday 14:00 is at 1.9× its normal Tuesday-14:00 level'
    fires; a daily rush hour does not (it IS the baseline). Ratio
    thresholds (≥1.5×, ≤0.6×) instead of z-scores keep the op exactly
    deterministic (integer counts, one exact double division — no float
    std accumulation); the thresholds flag 172/49 fixture cells, both
    tails populated. The engines disagree on dayofweek numbering
    (Spark Sunday=1, DuckDB Sunday=0 — the hourly_seasonality probe);
    the oracle adds 1. Shapes: the fact table folds to ≤ |days|×24 cells
    in one partial-aggregating pass; baseline and flags are grid-sized
    joins — at 100 TB only the first aggregation touches data."""
    ev = load_events(spark, sf_dir)
    cells = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.dayofweek("ts").cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hour"),
    ).agg(F.count("*").alias("n_events"))
    base = cells.groupBy("dow", "hour").agg(
        (F.sum("n_events").cast("double") / F.count("*")).alias("avg_n")
    )
    j = cells.join(base, ["dow", "hour"])
    ratio = F.col("n_events") / F.col("avg_n")
    return j.filter((ratio >= 1.5) | (ratio <= 0.6)).select(
        "day",
        "dow",
        "hour",
        "n_events",
        F.round("avg_n", 6).alias("baseline"),
        F.round(ratio, 6).alias("ratio"),
    )


@query(
    "events_user_gini",
    """
    WITH c AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM events
      GROUP BY user_id
    ),
    r AS (
      SELECT n, row_number() OVER (ORDER BY n, user_id) AS rk FROM c
    ),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS nu,
             CAST(SUM(n) AS BIGINT) AS total,
             CAST(SUM(rk * n) AS BIGINT) AS wsum
      FROM r
    )
    SELECT nu AS n_users, total AS total_events,
           round(2.0 * wsum / (nu * total) - (nu + 1.0) / nu, 6) AS gini,
           round(COALESCE((SELECT CAST(SUM(n) AS DOUBLE) FROM r, t
                  WHERE rk > nu - nu // 10), 0) / total, 6)
             AS top_decile_share
    FROM t
    """,
)
def events_user_gini(spark, sf_dir):
    """Activity-inequality census: the Gini coefficient of events over
    users plus the top-decile share — the one-row table that answers 'is
    this workload a bot problem / whale problem' and sizes the skew
    mitigations (``join_skew_salted``, AQE skew join) with a number
    instead of a guess. Gini from the rank form G = 2·Σ rk·xᵤ/(n·Σx) −
    (n+1)/n over ascending (count, user_id) ranks — ties share a value,
    and Σ rk·x is permutation-invariant within a tie group, so the
    id tie-break changes nothing and both engines agree exactly.

    The ranking uses the distributed :func:`_global_rank` machinery
    (range repartition + parallel per-partition row_number — no
    single-partition window at user grain); the oracle ranks with a
    plain window, so the machinery is again value-proven on a third
    ordering. Integer sums throughout; two divisions rounded once."""
    from .scale import _global_rank

    c = (
        load_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
    )
    ranked, nu = _global_rank(c, "n", "user_id")
    t = ranked.agg(
        F.sum("n").cast("long").alias("total"),
        F.sum(F.col("rk") * F.col("n")).cast("long").alias("wsum"),
        F.sum(
            F.when(F.col("rk") > nu - nu // 10, F.col("n")).otherwise(0)
        ).cast("long").alias("top_sum"),
    )
    return t.select(
        F.lit(nu).cast("long").alias("n_users"),
        F.col("total").alias("total_events"),
        F.round(
            2.0 * F.col("wsum") / (F.lit(nu) * F.col("total"))
            - (nu + 1.0) / nu,
            6,
        ).alias("gini"),
        F.round(F.col("top_sum").cast("double") / F.col("total"), 6).alias(
            "top_decile_share"
        ),
    )


@query(
    "events_dau_mau_stickiness",
    """
    WITH d AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day,
             strftime(ts, '%Y-%m') AS month,
             user_id
      FROM events
    ),
    dau AS (
      SELECT month, day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
      FROM d GROUP BY month, day
    ),
    mau AS (
      SELECT month, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
      FROM d GROUP BY month
    )
    SELECT m.month,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(min(a.dau) AS BIGINT) AS min_dau,
           CAST(max(a.dau) AS BIGINT) AS max_dau,
           m.mau,
           round(CAST(SUM(a.dau) AS DOUBLE) / count(*) / m.mau, 6)
             AS stickiness
    FROM dau a JOIN mau m USING (month)
    GROUP BY m.month, m.mau
    """,
)
def events_dau_mau_stickiness(spark, sf_dir):
    """DAU/MAU stickiness — the engagement headline (avg daily actives ÷
    monthly actives; 1.0 = everyone active every day): per month, the
    day count, DAU range, MAU, and the stickiness ratio. The distinct
    counts are the only shuffles (day grain then month grain — the
    rolling-window twin ``events_rolling_distinct_users`` handles the
    sliding form; this is the calendar-bucket form dashboards quote).
    Ratio = exact integer sums through one division, rounded once."""
    ev = load_events(spark, sf_dir)
    d = ev.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.date_format("ts", "yyyy-MM").alias("month"),
        "user_id",
    )
    dau = d.groupBy("month", "day").agg(
        F.count_distinct("user_id").alias("dau")
    )
    mau = d.groupBy("month").agg(F.count_distinct("user_id").alias("mau"))
    return (
        dau.join(mau, "month")
        .groupBy("month", "mau")
        .agg(
            F.count("*").alias("n_days"),
            F.min("dau").alias("min_dau"),
            F.max("dau").alias("max_dau"),
            F.round(
                F.sum("dau").cast("double") / F.count("*") / F.max("mau"), 6
            ).alias("stickiness"),
        )
        .select(
            "month", "n_days", "min_dau", "max_dau", "mau", "stickiness"
        )
    )


_MKV_ROUNDS = 8  # unrolled power-iteration rounds (5-state chain: ample)
_MKV_SCALE = 1_000_000_000  # fixed-point mass per state at x0


def _mkv_round_sql(t: int) -> str:
    return f"""x{t} AS MATERIALIZED (
      SELECT c.next_type AS t,
             CAST(SUM((x.w * c.n) // r.rn) AS BIGINT) AS w
      FROM x{t - 1} x
      JOIN c ON c.prev_type = x.t
      JOIN r ON r.prev_type = x.t
      GROUP BY 1
    )"""


@query(
    "events_markov_stationary",
    f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    c AS MATERIALIZED (
      SELECT prev_type, event_type AS next_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    ),
    r AS MATERIALIZED (SELECT prev_type, SUM(n) AS rn FROM c GROUP BY 1),
    types AS (SELECT DISTINCT event_type AS t FROM events),
    x0 AS (SELECT t, CAST({_MKV_SCALE} AS BIGINT) AS w FROM types),
    {', '.join(_mkv_round_sql(t) for t in range(1, _MKV_ROUNDS + 1))},
    tot AS (SELECT SUM(w) AS s FROM x{_MKV_ROUNDS})
    SELECT types.t AS event_type,
           CAST(COALESCE(x.w, 0) AS BIGINT) AS stationary_weight,
           round(CAST(COALESCE(x.w, 0) AS DOUBLE) / (SELECT s FROM tot), 6)
             AS share
    FROM types LEFT JOIN x{_MKV_ROUNDS} x ON x.t = types.t
    """,
)
def events_markov_stationary(spark, sf_dir):
    """Stationary distribution of the event-type Markov chain — the
    steady-state event mix the transition matrix
    (`events_transition_matrix`) converges to, read as "where user
    sessions spend their time asymptotically" (the baseline against
    which a cohort's ACTUAL mix is an anomaly signal). Power iteration
    in exact integer fixed-point: x₀ gives every state {_MKV_SCALE}
    mass; each of the {_MKV_ROUNDS} unrolled rounds moves mass as
    floor(x_i·c_ij / r_i) (integer multiply + integer floor-div per
    matrix cell — both engines agree exactly; the tiny floor leakage is
    deterministic and identical), so the whole trajectory — not just
    the final shape — is value-checked by the unrolled MATERIALIZED-CTE
    oracle (the graph_pagerank_int pattern on a DENSE |types|² chain
    instead of a sparse graph).

    Scale shape: the only corpus-sized work is the one lag window the
    transition matrix already pays (user-partitioned, shared with
    sessionization at 100 TB); every iteration then runs on the
    |types|²-row matrix — the Spark loop keeps it distributed (tiny
    joins, eager pin per round, the §5 lineage discipline)
    with zero driver collection."""
    ev = load_events(spark, sf_dir).select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    c = pin(
        seq.groupBy("prev_type", "next_type")
        .agg(F.count("*").alias("n"))
    )
    # alias the row-sum's key: r derives from c, so joining on
    # c.prev_type == r.prev_type would pit two Columns with the SAME
    # expression ID against each other and lean on Spark's ambiguous-
    # self-join disambiguation (logs "trivially true equals predicate";
    # fragile across versions) — a distinct name makes the equi-join
    # unambiguous by construction
    r = pin(
        c.groupBy(F.col("prev_type").alias("r_prev"))
        .agg(F.sum("n").alias("rn"))
    )
    types = pin(ev.select(F.col("event_type").alias("t")).distinct())
    x = types.select("t", F.lit(_MKV_SCALE).cast("long").alias("w"))
    for _ in range(_MKV_ROUNDS):
        x = pin(
            x.join(c, x.t == c.prev_type)
            .join(r, c.prev_type == r.r_prev)
            .select(
                F.col("next_type").alias("t"),
                F.expr("(w * n) DIV rn").alias("dw"),
            )
            .groupBy("t")
            .agg(F.sum("dw").cast("long").alias("w"))
        )
    tot = x.agg(F.sum("w").alias("s"))
    return (
        types.join(x, "t", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("t").alias("event_type"),
            F.coalesce("w", F.lit(0)).cast("long").alias("stationary_weight"),
            F.round(
                F.coalesce("w", F.lit(0)).cast("double") / F.col("s"), 6
            ).alias("share"),
        )
    )


_ATTR_TOL_US = 30 * 60 * 1_000_000  # last-touch attribution window: 30 min


@query(
    "events_attribution_last_touch",
    f"""
    WITH p AS (SELECT event_id, user_id, ts, value FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click'),
    m AS (
      SELECT p.event_id AS purchase_id, p.value,
             c.event_id AS click_id,
             date_diff('microseconds', c.ts, p.ts) AS gap_us,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY c.ts DESC, c.event_id DESC) AS rn
      FROM p JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts
    )
    SELECT purchase_id, click_id, CAST(gap_us AS BIGINT) AS gap_us,
           CAST(round(CAST(value AS DECIMAL(18,4)), 2) AS DOUBLE) AS value
    FROM m WHERE rn = 1 AND gap_us <= {_ATTR_TOL_US}
    """,
)
def events_attribution_last_touch(spark, sf_dir):
    """LAST-TOUCH attribution — the marketing-analytics model the
    streaming interval join (streaming/pipeline.py's attribution twin)
    deliberately does NOT implement: where the interval join credits
    EVERY click in the window (multi-touch), last-touch resolves each
    purchase to its single most recent prior click and only then applies
    the 30-minute window — so a purchase whose nearest click is too old
    is UNattributed rather than sliding credit to an older click
    (identical resolve-then-tolerance discipline as `join_asof_tolerance`,
    here with INNER output: the attribution report lists attributed
    conversions). Purchase value rides through in the decimal-money
    discipline; at 100 TB both sides come pre-partitioned by the same
    user-keyed shuffle sessionization already pays. Gap math in integer
    microseconds keeps the match set cross-engine exact."""
    best = _asof_best(
        load_events(spark, sf_dir),
        "purchase",
        "click",
        F.col("m_ts") <= F.col("ts"),
        F.desc("m_ts"),
        F.desc("m_id"),
    )
    gap = F.expr("timestampdiff(MICROSECOND, m_ts, ts)")
    return (
        best.withColumn("gap_us", gap)
        .filter(F.col("gap_us") <= _ATTR_TOL_US)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("m_id").alias("click_id"),
            F.col("gap_us").cast("long").alias("gap_us"),
            money(dec4("value")).alias("value"),
        )
    )


@query(
    "events_unconverted_clicks",
    f"""
    WITH uc AS (SELECT event_id, user_id, ts FROM events
                WHERE event_type = 'click'),
    up AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
    SELECT uc.event_id AS click_id, uc.user_id,
           {duck_ts('uc.ts')} AS click_ts
    FROM uc
    WHERE NOT EXISTS (
      SELECT 1 FROM up
      WHERE up.user_id = uc.user_id AND up.ts >= uc.ts
        AND date_diff('microseconds', uc.ts, up.ts) <= {_ATTR_TOL_US}
    )
    """,
)
def events_unconverted_clicks(spark, sf_dir):
    """NEVER-CONVERTED clicks — the batch twin of the streaming LEFT
    OUTER interval join's null lane (streaming/pipeline.py
    `attribution_join_stream_outer`, VERDICT r8 item 3): every click
    with NO same-user purchase inside the 30-minute horizon. In the
    stream these rows can only emit once the watermark proves no match
    can still arrive; in batch the same set is one LEFT ANTI join with
    the identical predicate — computing it both ways is what makes the
    streaming emission testable (tests/test_streaming.py pins the
    matched lane, this op pins the unmatched lane under the EXACT
    oracle). Shape: user-keyed equi anti-join carrying ids+timestamps
    only; the range term rides as the join's secondary condition, never
    a cartesian. Gap math in integer microseconds, timestamps emitted
    as strings (normalize discipline)."""
    ev = load_events(spark, sf_dir)
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        "ts",
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    cond = (
        (c.user_id == p.p_user)
        & (F.col("p_ts") >= c.ts)
        & (F.expr("timestampdiff(MICROSECOND, ts, p_ts)") <= _ATTR_TOL_US)
    )
    return c.join(p, cond, "left_anti").select(
        "click_id", "user_id", ts_str("ts").alias("click_ts")
    )


@query(
    "events_session_bounce_rate",
    """
    WITH s AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('microseconds', lag(ts) OVER w, ts)
                       > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    t AS (
      SELECT user_id, ts, event_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_idx
      FROM s
    ),
    sess AS (
      SELECT user_id, session_idx,
             CAST(date_trunc('day', min(ts)) AS DATE) AS d,
             count(*) AS n_events
      FROM t GROUP BY user_id, session_idx
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           round(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS bounce_rate
    FROM sess GROUP BY d
    """,
)
def events_session_bounce_rate(spark, sf_dir):
    """Daily bounce rate — the product-analytics KPI sessionization
    exists to feed: share of sessions (30-min inactivity gap, the
    `sessionize_gap_sql` rule verbatim) containing exactly ONE event,
    bucketed by session start day. A rising bounce rate is the first
    sign of a broken funnel step or bot inflow (cross-check:
    `events_bot_score_flags`). Shape: the same user-partitioned lag +
    running-sum windows sessionization pays (one user-keyed shuffle at
    100 TB, shared with every other session op), a session-grain
    aggregate, then a |days|-sized census; the bounce ratio is an
    integer-count division, exact cross-engine."""
    ev = load_events(spark, sf_dir).select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.expr(
        "timestampdiff(MICROSECOND, lag(ts) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id), ts)"
    )
    s = ev.withColumn(
        "is_new",
        F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0),
    )
    t = s.withColumn(
        "session_idx",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    sess = t.groupBy("user_id", "session_idx").agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("d"),
        F.count("*").alias("n_events"),
    )
    bounce = F.when(F.col("n_events") == 1, 1).otherwise(0)
    return sess.groupBy(
        F.date_format("d", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count("*").alias("n_sessions"),
        F.sum(bounce).cast("long").alias("n_bounces"),
        F.round(F.sum(bounce).cast("double") / F.count("*"), 6).alias(
            "bounce_rate"
        ),
    )


@query(
    "events_cusum_changepoint",
    """
    WITH daily AS (
      SELECT event_type, CAST(day(ts) AS INTEGER) AS d,
             count(*) AS x
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS total
      FROM daily GROUP BY 1
    ),
    cusum AS (
      SELECT d.event_type, d.d,
             SUM(t.n * d.x - t.total)
               OVER (PARTITION BY d.event_type ORDER BY d.d) AS s
      FROM daily d JOIN tot t USING (event_type)
    ),
    peak AS (
      SELECT event_type, d, s FROM (
        SELECT event_type, d, s,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY abs(s) DESC, d) AS rn
        FROM cusum
      ) WHERE rn = 1
    )
    SELECT p.event_type,
           t.n AS n_days,
           CAST(p.d AS INTEGER) AS peak_day,
           CAST(p.s AS BIGINT) AS peak_cusum,
           round(CAST(abs(p.s) AS DOUBLE) / (t.n * t.total), 6)
             AS peak_magnitude
    FROM peak p JOIN tot t USING (event_type)
    """,
)
def events_cusum_changepoint(spark, sf_dir):
    """CUSUM change-point detection over the daily event-count series —
    the classical sequential drift detector (Page's cumulative sum), per
    event type: S_k = Σ_{d≤k}(n·x_d − total) is the running cumulative
    deviation from the period mean kept in EXACT integer form (scaling
    each term by n avoids dividing by it — the decimal-free CUSUM), the
    day with the largest |S| is the most likely change point, and its
    sign says whether the rate stepped down (negative: early days below
    mean) or up. peak_magnitude = |S|/(n·total) normalizes to a
    comparable [0,½] scale across types; a flat series reads ≈ 0.
    Complements the MAD outliers (single-day spikes) and the seasonal
    anomaly op (recurring patterns) with the LEVEL-SHIFT failure mode.
    Shape: one partial-aggregating pass to |types|·|days| rows, then
    running-sum and argmax windows PARTITIONED by type — parallel, tiny,
    nothing global; the division happens once per output row."""
    ev = load_events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.dayofmonth("ts").cast("int").alias("d")
    ).agg(F.count("*").alias("x"))
    tot = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("total"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cusum = (
        daily.join(tot, "event_type")
        .withColumn(
            "s", F.sum(F.col("n") * F.col("x") - F.col("total")).over(w)
        )
    )
    wp = Window.partitionBy("event_type").orderBy(
        F.desc(F.abs("s")), "d"
    )
    peak = (
        cusum.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select("event_type", "d", "s", "n", "total")
    )
    return peak.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.col("d").cast("int").alias("peak_day"),
        F.col("s").cast("long").alias("peak_cusum"),
        F.round(
            F.abs("s").cast("double") / (F.col("n") * F.col("total")), 6
        ).alias("peak_magnitude"),
    )


@query(
    "nation_gmv_trend_slope",
    """
    WITH m AS (
      SELECT n.n_name AS nation,
             CAST((year(o.o_orderdate) - 1995) * 12
                  + (month(o.o_orderdate) - 1) AS BIGINT) AS x,
             CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,4)) * 10000
                           AS BIGINT)) AS BIGINT) AS y
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    ),
    s AS (
      SELECT nation, CAST(count(*) AS BIGINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM m GROUP BY nation
    )
    SELECT nation, n AS n_months,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE) / 10000, 6)
             AS slope_per_month
    FROM s WHERE n >= 2
    """,
)
def nation_gmv_trend_slope(spark, sf_dir):
    """Per-nation GMV TREND — ordinary-least-squares slope of monthly
    revenue, the growth-vs-decline number a revenue review reads per
    market. The regression is the closed-form
    (n·Σxy − Σx·Σy)/(n·Σxx − Σx²) computed entirely in EXACT integers:
    x is the month index, y the month's revenue in 1e-4 currency units
    (DECIMAL(18,4)·10⁴ is integral, so the BIGINT cast is safe in both
    engines — the decimal→int trap only bites on non-integral values),
    and all four sums are int64 (bounds: ~80 months × cents-scale
    revenue ≪ 2⁶³). One double division at the end, reported in
    currency units per month. Shape: fact → (nation, month) partial
    aggregate (customer/nation dims broadcast), then a |nations|-sized
    closed-form — the whole regression is ONE extra tiny aggregate over
    the monthly rollup any revenue dashboard already materializes."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    x = (
        (F.year("o_orderdate") - 1995) * 12 + (F.month("o_orderdate") - 1)
    ).cast("long")
    y_unit = (dec4("o_totalprice") * 10000).cast("long")
    m = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), x.alias("x"))
        .agg(F.sum(y_unit).cast("long").alias("y"))
    )
    s = m.groupBy("nation").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        s.filter(F.col("n") >= 2)
        .select(
            "nation",
            F.col("n").alias("n_months"),
            F.round(
                num.cast("double") / den.cast("double") / 10000, 6
            ).alias("slope_per_month"),
        )
    )


@query(
    "events_anomaly_mad",
    """
    WITH mcells AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    mmed AS (
      SELECT event_type, cnt AS med FROM (
        SELECT event_type, cnt,
               row_number() OVER (PARTITION BY event_type ORDER BY cnt) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM mcells
      ) WHERE rn = (n + 1) // 2
    ),
    mdev AS (
      SELECT c.event_type, c.day, c.cnt, m.med, abs(c.cnt - m.med) AS ad
      FROM mcells c JOIN mmed m USING (event_type)
    ),
    mmad AS (
      SELECT event_type, ad AS mad FROM (
        SELECT event_type, ad,
               row_number() OVER (PARTITION BY event_type ORDER BY ad) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM mdev
      ) WHERE rn = (n + 1) // 2
    )
    SELECT d.event_type, d.day, d.cnt, d.med, m.mad,
           CASE WHEN m.mad = 0 THEN CAST(NULL AS DOUBLE)
                ELSE round(CAST(d.ad AS DOUBLE) / (1.4826 * m.mad), 6)
           END AS robust_z
    FROM mdev d JOIN mmad m USING (event_type)
    WHERE d.ad * 10000 > 29652 * m.mad
    """,
)
def events_anomaly_mad(spark, sf_dir):
    """Median/MAD robust anomaly detection on daily per-type volumes —
    the outlier screen that survives the outliers themselves (a traffic
    spike inflates a mean/stddev z-score's OWN baseline; median and MAD
    barely move — Hampel's insight, the standard robust alternative to
    `window_rolling_zscore`). Per event type: exact median of daily
    counts, exact median absolute deviation, flag days beyond 2 robust
    sigmas. Exactness: counts and deviations are integers, both medians
    are the deterministic lower-median (rank (n+1)//2 over a tie-broken
    order), and the flag compares ad·10⁴ > 29652·MAD in integers (2 ×
    1.4826 scaled — no float threshold); the reported robust z is one
    guarded double division. Scale shape: the fact table reduces to
    |types|×|days| cells in one partial-aggregating pass; both median
    ranks are windows PARTITIONED by type over that tiny summary —
    the two-pass exact-median pattern at cell grain."""
    ev = load_events(spark, sf_dir)
    cells = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count("*").cast("long").alias("cnt"))
    wmed = Window.partitionBy("event_type").orderBy("cnt")
    wcnt = Window.partitionBy("event_type")
    med = (
        cells.withColumn("rn", F.row_number().over(wmed))
        .withColumn("n", F.count("*").over(wcnt))
        .filter(F.col("rn") == F.expr("(n + 1) DIV 2"))
        .select("event_type", F.col("cnt").alias("med"))
    )
    dev = cells.join(med, "event_type").withColumn(
        "ad", F.abs(F.col("cnt") - F.col("med"))
    )
    wmad = Window.partitionBy("event_type").orderBy("ad")
    mad = (
        dev.withColumn("rn", F.row_number().over(wmad))
        .withColumn("n", F.count("*").over(wcnt))
        .filter(F.col("rn") == F.expr("(n + 1) DIV 2"))
        .select("event_type", F.col("ad").alias("mad"))
    )
    return (
        dev.join(mad, "event_type")
        .filter(F.col("ad") * 10000 > 29652 * F.col("mad"))
        .select(
            "event_type",
            "day",
            "cnt",
            "med",
            "mad",
            F.when(F.col("mad") == 0, F.lit(None).cast("double"))
            .otherwise(F.round(F.col("ad").cast("double") / (1.4826 * F.col("mad")), 6))
            .alias("robust_z"),
        )
    )


def _daily_fanout(spark, sf_dir, offsets: range):
    """Daily per-type volume cells paired with their neighbours: one row
    per (event_type, day, cnt) cell and offset k in ``offsets`` whose
    shifted day (day + k) has a cell of the same type, carrying that
    cell as ``o_day`` / ``o_cnt`` (gap days pair with nothing). Scale
    shape: the fact table collapses to |types|×|days| cells in one
    partial-aggregating pass; a broadcast ``spark.range`` of offsets fans
    the tiny summary out ×|offsets|, and an equi-join on (type, shifted
    day) pairs it with itself. Nothing downstream touches event grain."""
    cells = (
        load_events(spark, sf_dir)
        .groupBy("event_type", F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    ks = spark.range(offsets.start, offsets.stop).select(
        F.col("id").cast("int").alias("k")
    )
    o = cells.select(
        F.col("event_type").alias("o_type"),
        F.col("day").alias("o_day"),
        F.col("cnt").alias("o_cnt"),
    )
    return (
        cells.join(F.broadcast(ks))
        .join(
            o,
            (F.col("o_type") == F.col("event_type"))
            & (F.col("o_day") == F.date_add("day", "k")),
        )
        .drop("o_type")
    )


@query(
    "events_acf_lags",
    """
    WITH fcells AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    fl AS (SELECT CAST(unnest(generate_series(1, 7)) AS INTEGER) AS lag),
    fpairs AS (
      SELECT a.event_type, l.lag, a.cnt AS x, b.cnt AS y
      FROM fcells a
      JOIN fl l ON true
      JOIN fcells b
        ON b.event_type = a.event_type AND b.day = a.day + l.lag
    ),
    fstats AS (
      SELECT event_type, lag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM fpairs GROUP BY 1, 2
    )
    SELECT event_type, CAST(lag AS BIGINT) AS lag, n AS n_pairs,
           n * sxy - sx * sy AS cov_num,
           CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
                THEN CAST(NULL AS DOUBLE)
                ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
                           / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                              * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
           END AS acf
    FROM fstats
    """,
)
def events_acf_lags(spark, sf_dir):
    """Sample autocorrelation of the daily per-type volume series at lags
    1..7 — the diagnostic that quantifies what `events_hourly_seasonality`
    eyeballs: a weekly-seasonal stream shows an ACF spike at lag 7, a
    trending one decays slowly across all lags, white noise sits near 0.
    The standard Pearson form over the (day t, day t+lag) pairs actually
    observed (gap days simply contribute no pair). Exactness: daily counts
    are integers, so n, Σx, Σy, Σxy, Σx², Σy² are exact BIGINTs and the
    correlation numerator n·Σxy − ΣxΣy is exact integer arithmetic; the
    only float steps are two sqrt's of exactly-representable int64s
    (< 2^53), one multiply, one division, one 6dp round — IEEE-identical
    in both engines (the `events_anomaly_mad` discipline). Scale shape:
    the 7 lags fan the daily cells out ×7 (:func:`_daily_fanout`) before
    a second partial aggregation to |types|×7 rows."""
    pairs = _daily_fanout(spark, sf_dir, range(1, 8)).select(
        "event_type",
        F.col("k").alias("lag"),
        F.col("cnt").alias("x"),
        F.col("o_cnt").alias("y"),
    )
    s = pairs.groupBy("event_type", "lag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.select(
        "event_type",
        F.col("lag").cast("long").alias("lag"),
        F.col("n").alias("n_pairs"),
        num.alias("cov_num"),
        F.when((dx == 0) | (dy == 0), F.lit(None).cast("double"))
        .otherwise(
            F.round(
                num.cast("double")
                / (F.sqrt(dx.cast("double")) * F.sqrt(dy.cast("double"))),
                6,
            )
        )
        .alias("acf"),
    )


@query(
    "events_ewma_daily",
    """
    WITH wcells AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    wk AS (SELECT CAST(unnest(generate_series(0, 9)) AS INTEGER) AS k),
    wterms AS (
      SELECT a.event_type, a.day, a.cnt,
             b.cnt AS past_cnt,
             CAST(1 AS BIGINT) << (9 - wk.k) AS w
      FROM wcells a
      JOIN wk ON true
      JOIN wcells b
        ON b.event_type = a.event_type AND b.day = a.day - wk.k
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day, min(cnt) AS cnt,
           CAST(sum(past_cnt * w) AS BIGINT) AS ewma_num,
           CAST(sum(w) AS BIGINT) AS ewma_den,
           round(CAST(sum(past_cnt * w) AS DOUBLE) / CAST(sum(w) AS DOUBLE), 6)
             AS ewma
    FROM wterms GROUP BY event_type, day
    """,
)
def events_ewma_daily(spark, sf_dir):
    """Exponentially-weighted moving average of daily per-type volume —
    the trend-following smoother between the uniform `orders_gmv_daily_7dma`
    and the outlier-robust `events_anomaly_mad`: each day's EWMA halves the
    weight of every prior day (α = 1/2), truncated at a 10-day horizon
    (weight 2⁻¹⁰ < 0.1% — the tail is noise). Exactness: the dyadic decay
    makes the whole smoother INTEGER — weight(k) = 2^(9−k) is a bit shift,
    numerator and denominator are exact BIGINT sums over whichever of the
    10 lookback days exist (gap days contribute nothing and the weight sum
    renormalizes automatically), and the reported EWMA is one double
    division + 6dp round. Scale shape: the 10-day lookback is offsets
    −9..0 of :func:`_daily_fanout` (offset −k is k days back), the ×10
    fan-out feeding a second partial aggregation."""
    terms = _daily_fanout(spark, sf_dir, range(-9, 1)).select(
        "event_type",
        "day",
        "cnt",
        F.col("o_cnt").alias("past_cnt"),
        F.expr("shiftleft(CAST(1 AS BIGINT), 9 + k)").alias("w"),
    )
    return (
        terms.groupBy("event_type", "day")
        .agg(
            F.min("cnt").alias("cnt"),
            F.sum(F.col("past_cnt") * F.col("w")).cast("long").alias("ewma_num"),
            F.sum("w").cast("long").alias("ewma_den"),
        )
        .select(
            "event_type",
            date_str("day").alias("day"),
            "cnt",
            "ewma_num",
            "ewma_den",
            F.round(
                F.col("ewma_num").cast("double") / F.col("ewma_den").cast("double"),
                6,
            ).alias("ewma"),
        )
    )


@query(
    "orders_dow_seasonality_index",
    """
    WITH wdd AS (
      SELECT isodow(o_orderdate) AS dow,
             CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000
                           AS BIGINT)) AS BIGINT) AS g_unit
      FROM orders GROUP BY 1, 2
    ),
    wds AS (
      SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
             CAST(SUM(g_unit) AS BIGINT) AS gmv_unit
      FROM wdd GROUP BY 1
    ),
    wtot AS (
      SELECT CAST(SUM(gmv_unit) AS BIGINT) AS tot_unit,
             CAST(SUM(n_days) AS BIGINT) AS tot_days
      FROM wds
    )
    SELECT CAST(dow AS BIGINT) AS dow, n_days, gmv_unit,
           round(CAST(gmv_unit * tot_days AS DOUBLE)
                 / CAST(n_days * tot_unit AS DOUBLE), 6) AS dow_index
    FROM wds, wtot
    """,
)
def orders_dow_seasonality_index(spark, sf_dir):
    """Day-of-week seasonality index of order revenue — the multiplicative
    seasonal factor a forecaster divides out before fitting trend (the
    decomposition complement of `nation_gmv_trend_slope`'s OLS trend and
    `events_acf_lags`'s lag-7 detector): per ISO weekday, average daily
    GMV relative to the all-days average, index 1.0 = no weekly effect.
    Exactness: revenue is summed in integer 10⁻⁴-dollar units (the house
    decimal discipline), day and weekday counts are exact, and the index
    = (g·D)/(d·G) is computed from two exact int64 products with ONE
    deterministic int64→double cast each (IEEE round-to-nearest, identical
    cross-engine — the `nation_gmv_trend_slope` precedent), one division,
    one 6dp round. Scale shape: orders reduce to |days| daily cells in a
    single partial-agg pass, then to 7 weekday rows; the grand total is a
    1-row broadcast. Weekday = ISO (1=Mon..7=Sun): Spark `weekday()+1` ↔
    DuckDB `isodow`."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        (F.weekday("o_orderdate") + F.lit(1)).alias("dow"),
        F.to_date(F.date_trunc("day", "o_orderdate")).alias("day"),
    ).agg(
        F.sum((dec4("o_totalprice") * 10000).cast("long"))
        .cast("long")
        .alias("g_unit")
    )
    wds = daily.groupBy("dow").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("g_unit").cast("long").alias("gmv_unit"),
    )
    tot = wds.agg(
        F.sum("gmv_unit").cast("long").alias("tot_unit"),
        F.sum("n_days").cast("long").alias("tot_days"),
    )
    return wds.crossJoin(F.broadcast(tot)).select(
        F.col("dow").cast("long").alias("dow"),
        "n_days",
        "gmv_unit",
        F.round(
            (F.col("gmv_unit") * F.col("tot_days")).cast("double")
            / (F.col("n_days") * F.col("tot_unit")).cast("double"),
            6,
        ).alias("dow_index"),
    )


@query(
    "join_interval_overlap_binned",
    """
    WITH jsflag AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('microseconds', lag(ts) OVER w, ts)
                       > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    jstag AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_idx
      FROM jsflag
    ),
    js AS (
      SELECT user_id, session_idx,
             min(ts) AS s_start, max(ts) AS s_end
      FROM jstag GROUP BY 1, 2
    ),
    jw AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS w_start,
             CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 HOUR
               AS w_end
      FROM events GROUP BY 1, 2, 3
    ),
    jb AS (
      SELECT user_id, session_idx, s_start, s_end,
             CAST(unnest(generate_series(CAST(s_start AS DATE),
                                         CAST(s_end AS DATE),
                                         INTERVAL 1 DAY)) AS DATE) AS day
      FROM js
    ),
    jo AS (
      SELECT w.day, b.user_id,
             greatest(b.s_start, w.w_start) AS g,
             least(b.s_end, w.w_end) AS l
      FROM jb b JOIN jw w ON b.day = w.day
      WHERE b.s_start <= w.w_end AND b.s_end >= w.w_start
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(date_diff('microseconds', g, l)) AS BIGINT)
             AS total_overlap_us,
           CAST(MAX(date_diff('microseconds', g, l)) AS BIGINT)
             AS max_overlap_us
    FROM jo GROUP BY day
    """,
)
def join_interval_overlap_binned(spark, sf_dir):
    """Interval×interval OVERLAP join, the bin-then-verify way — the join
    family `join_range_binned` (point-in-range) and `join_asof` leave
    open: both sides are intervals (user sessions from the 30-min-gap
    sessionization × daily 1-hour audit windows), and a pair matches when
    the intervals INTERSECT. The naive form is a θ-join (s.start ≤ w.end
    AND s.end ≥ w.start — quadratic); the scale form binned here maps
    each session to the day bins it spans (`sequence(date(start),
    date(end))` — bounded fan-out: a session spans few days), equi-joins
    on the bin key, and verifies the exact overlap predicate inside the
    bucket — cost ∝ colliding (session, day) pairs, never |sessions|×
    |windows|. The same construction handles arbitrary interval joins at
    100 TB with coarser/finer bin grains. Exactness: all bounds are
    microsecond-integer comparisons, overlap duration =
    `timestampdiff(MICROSECOND, greatest(starts), least(ends))` on the
    clamped bounds — exact BIGINTs end to end; closed-interval
    convention, zero-length touches count with 0 duration. Scale shape:
    sessionization is the one user-partitioned window pass every sequence
    op pays; windows are |days| rows (broadcast); the bin join shuffles
    session-grain interval stubs only."""
    ev = load_events(spark, sf_dir)
    wlag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = ev.select(
        "user_id",
        "ts",
        F.when(
            F.expr(
                "timestampdiff(MICROSECOND, lag(ts) OVER "
                "(PARTITION BY user_id ORDER BY ts, event_id), ts)"
            ).isNull()
            | (
                F.expr(
                    "timestampdiff(MICROSECOND, lag(ts) OVER "
                    "(PARTITION BY user_id ORDER BY ts, event_id), ts)"
                )
                > 1800000000
            ),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
        "event_id",
    ).withColumn("session_idx", F.sum("is_new").over(wcum))
    sess = tagged.groupBy("user_id", "session_idx").agg(
        F.min("ts").alias("s_start"), F.max("ts").alias("s_end")
    )
    wins = ev.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        F.date_trunc("day", "ts").alias("w_start"),
        F.expr("date_trunc('day', ts) + INTERVAL 1 HOUR").alias("w_end"),
    ).agg(F.lit(1)).select("day", "w_start", "w_end")
    binned = sess.select(
        "user_id",
        "s_start",
        "s_end",
        F.explode(
            F.sequence(F.to_date("s_start"), F.to_date("s_end"))
        ).alias("day"),
    )
    overl = (
        binned.join(F.broadcast(wins), "day")
        .filter(
            (F.col("s_start") <= F.col("w_end"))
            & (F.col("s_end") >= F.col("w_start"))
        )
        .select(
            "day",
            "user_id",
            F.greatest("s_start", "w_start").alias("g"),
            F.least("s_end", "w_end").alias("l"),
        )
    )
    return overl.groupBy("day").agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum(F.expr("timestampdiff(MICROSECOND, g, l)"))
        .cast("long")
        .alias("total_overlap_us"),
        F.max(F.expr("timestampdiff(MICROSECOND, g, l)"))
        .cast("long")
        .alias("max_overlap_us"),
    ).select(
        date_str("day").alias("day"),
        "n_sessions",
        "n_users",
        "total_overlap_us",
        "max_overlap_us",
    )


@query(
    "orders_open_aging_buckets",
    """
    WITH agmx AS (SELECT max(o_orderdate) AS gmax FROM orders),
    agb AS (
      SELECT o_orderstatus AS status,
             least(date_diff('day', o_orderdate, gmax) // 180, 4) AS bucket,
             CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT)
               AS v_unit
      FROM orders, agmx
      WHERE o_orderstatus IN ('O', 'P')
    )
    SELECT status, CAST(bucket AS BIGINT) AS bucket,
           CAST(bucket * 180 AS BIGINT) AS age_days_lo,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(v_unit) AS BIGINT) AS value_unit
    FROM agb GROUP BY status, bucket
    """,
)
def orders_open_aging_buckets(spark, sf_dir):
    """Open-order aging report — the accounts-receivable-style backlog
    breakdown `orders_backlog_daily` (a time series) doesn't give: every
    not-yet-finished order ('O' open / 'P' partial), bucketed by how long
    it has been open in 180-day bands (0-179, 180-359, …, 720+ capped),
    with order count and exact order value per (status, band). Age is
    measured against the in-data max order date — the same deterministic
    reference-clock choice as `dq_freshness_lag`. Exactness: ages are
    integer day diffs, the band is one integer floor-division with a
    least() cap, value is summed in integer 10⁻⁴-dollar units. Scale
    shape: one filtered scan partial-aggregated to ≤ 2×5 cells; the
    reference date is a 1-row broadcast. The status filter reaches the
    parquet scan as a pushed predicate."""
    o = load(spark, sf_dir, "orders")
    gmx = o.agg(F.max("o_orderdate").alias("gmax"))
    return (
        o.filter(F.col("o_orderstatus").isin("O", "P"))
        .crossJoin(F.broadcast(gmx))
        .select(
            F.col("o_orderstatus").alias("status"),
            F.least(
                F.expr("datediff(gmax, o_orderdate) div 180"), F.lit(4)
            ).alias("bucket"),
            (dec4("o_totalprice") * 10000).cast("long").alias("v_unit"),
        )
        .groupBy("status", "bucket")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("v_unit").cast("long").alias("value_unit"),
        )
        .select(
            "status",
            F.col("bucket").cast("long").alias("bucket"),
            (F.col("bucket") * 180).cast("long").alias("age_days_lo"),
            "n_orders",
            "value_unit",
        )
    )


@query(
    "window_rolling_median",
    """
    WITH rmc AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    rmo AS (SELECT CAST(unnest(generate_series(-3, 3)) AS INTEGER) AS k),
    rmp AS (
      SELECT a.event_type, a.day, a.cnt,
             b.cnt AS w_cnt, b.day AS w_day
      FROM rmc a
      JOIN rmo ON true
      JOIN rmc b
        ON b.event_type = a.event_type AND b.day = a.day + rmo.k
    ),
    rmr AS (
      SELECT event_type, day, cnt, w_cnt,
             row_number() OVER (PARTITION BY event_type, day
                                ORDER BY w_cnt, w_day) AS rn,
             count(*) OVER (PARTITION BY event_type, day) AS n
      FROM rmp
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day, cnt,
           CAST(n AS BIGINT) AS n_window,
           w_cnt AS rolling_med
    FROM rmr WHERE rn = (n + 1) // 2
    """,
)
def window_rolling_median(spark, sf_dir):
    """Rolling 7-day EXACT median of daily per-type volume — the robust
    member of the smoother trio (`orders_gmv_daily_7dma` uniform mean,
    `events_ewma_daily` exponential mean, this one): one spike day moves
    a 7-day mean by spike/7 but leaves the median untouched, so the
    median smoother is what anomaly thresholds are drawn against
    (`events_anomaly_mad` is its global-window sibling). Window = the
    present days in [d−3, d+3] (edges and gaps shrink the window — the
    count is reported); the median is the deterministic lower-median at
    rank (n+1)//2 under a (value, day) total order — the
    `events_anomaly_mad` discipline, all-integer end to end. Scale
    shape: the window is offsets −3..3 of :func:`_daily_fanout`, and the
    rank windows are PARTITIONED by (type, anchor day) over ≤7-row
    groups — no global window, no unbounded frame."""
    pairs = _daily_fanout(spark, sf_dir, range(-3, 4)).select(
        "event_type",
        "day",
        "cnt",
        F.col("o_cnt").alias("w_cnt"),
        F.col("o_day").alias("w_day"),
    )
    wrk = Window.partitionBy("event_type", "day").orderBy("w_cnt", "w_day")
    wn = Window.partitionBy("event_type", "day")
    return (
        pairs.withColumn("rn", F.row_number().over(wrk))
        .withColumn("n", F.count("*").over(wn))
        .filter(F.col("rn") == F.expr("(n + 1) DIV 2"))
        .select(
            "event_type",
            date_str("day").alias("day"),
            "cnt",
            F.col("n").cast("long").alias("n_window"),
            F.col("w_cnt").alias("rolling_med"),
        )
    )
