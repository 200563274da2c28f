"""CORE group — relational substrate (SURVEY §2.2, C1–C32).

The reference has no relational engine [U/H: a single linear Beam pipeline
— no joins, SQL, optimizer, sorts, or set ops]; these operators are the
substrate any engine with "the same query capabilities" needs, exercised
over the TPC-H-ish fixture star schema and hash-checked against DuckDB.

Every query is declarative DataFrame API: Catalyst supplies predicate
pushdown, column pruning, join selection (broadcast vs sort-merge vs
AQE-shuffled-hash), partial aggregation, and limit pushdown. Scale notes
are per-operator docstrings.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.normalize import date_str, dec4, duck_date, duck_ts, money, ts_str
from ..sources import load, load_events
from .base import make_registry

QUERIES, ORACLES, query = make_registry()


# --- scans / projections / predicates --------------------------------------


@query("scan_parquet", "SELECT count(*) AS n_rows FROM lineitem")
def scan_parquet(spark, sf_dir):
    """C1 — columnar batch scan. count(*) compiles to a metadata-only
    aggregate over the scan; at 100 TB the same plan reads only footers +
    row-group counts, no data pages."""
    return load(spark, sf_dir, "lineitem").agg(F.count("*").alias("n_rows"))


@query(
    "proj_expr",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(round(CAST(l_extendedprice AS DECIMAL(18,4))
                      * (1 - CAST(l_discount AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS revenue
    FROM lineitem
    """,
)
def proj_expr(spark, sf_dir):
    """C2 — projection with arithmetic (decimal path: exact cross-engine
    rounding; see normalize.dec4). ReadSchema prunes to 4 columns."""
    return load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        money(dec4("l_extendedprice") * (1 - dec4("l_discount"))).alias("revenue"),
    )


@query(
    "filt_pred",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(round(CAST(l_quantity AS DECIMAL(18,4)), 2) AS DOUBLE) AS qty
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20
      AND l_returnflag IN ('A', 'R')
      AND l_shipdate IS NOT NULL
    """,
)
def filt_pred(spark, sf_dir):
    """C3 — conjunctive predicates + BETWEEN + IN + IS NULL; all three
    push down to the parquet scan (PushedFilters)."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_quantity").between(10, 20)
        & F.col("l_returnflag").isin("A", "R")
        & F.col("l_shipdate").isNotNull()
    ).select("l_orderkey", "l_linenumber", money(dec4("l_quantity")).alias("qty"))


@query(
    "case_when",
    """
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 5000 THEN 'mid'
                ELSE 'high' END AS tier
    FROM customer
    """,
)
def case_when(spark, sf_dir):
    """C4 — CASE expression (acctbal tiering)."""
    c = F.col("c_acctbal")
    return load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(c < 0, "debt").when(c < 5000, "mid").otherwise("high").alias("tier"),
    )


# --- joins ------------------------------------------------------------------


@query(
    "join_broadcast",
    """
    SELECT n.n_nationkey, n.n_name, r.r_name
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def join_broadcast(spark, sf_dir):
    """C5 — small-dim equi join with an explicit broadcast hint ->
    BroadcastHashJoinExec: zero shuffle of the fact side. The pattern every
    dim join at 100 TB should take (region/nation are KBs)."""
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    return nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name", "r_name")


@query(
    "join_sortmerge",
    """
    SELECT o.o_orderpriority,
           CAST(round(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,4)))), 2)
                AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_sortmerge(spark, sf_dir):
    """C6 — large⋈large equi join + aggregation (orders⋈lineitem revenue by
    priority). Both sides shuffle on o_orderkey/l_orderkey; AQE picks
    sort-merge or shuffled-hash and splits skewed partitions at runtime. At
    100 TB, bucketing both tables on orderkey eliminates the input shuffle
    entirely — demonstrated in tests/test_bucketing.py (bucketed variant
    joins with zero exchanges before the final aggregation)."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            money(
                F.sum(dec4("l_extendedprice") * (1 - dec4("l_discount")))
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "join_left_outer",
    """
    SELECT c.c_custkey, count(o.o_orderkey) AS order_cnt
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def join_left_outer(spark, sf_dir):
    """C7 — left outer join preserving order-less customers (count = 0)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("order_cnt"))
    )


@query(
    "join_semi",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_semi(spark, sf_dir):
    """C8 — left semi join: customers having ≥1 order. Semi joins shuffle
    only the keys of the probe side — cheaper than join+distinct."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "join_anti",
    """
    SELECT o_orderkey, o_orderstatus FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
    """,
)
def join_anti(spark, sf_dir):
    """C9 — left anti join: orders with no lineitems (non-empty at every
    fixture scale, unlike customers-without-orders)."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return o.join(li, o.o_orderkey == li.l_orderkey, "left_anti").select(
        "o_orderkey", "o_orderstatus"
    )


@query(
    "join_range_theta",
    """
    SELECT o.o_orderpriority, count(*) AS cnt
    FROM orders o JOIN lineitem l
      ON o.o_orderkey = l.l_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate <= o.o_orderdate + INTERVAL 90 DAY
    GROUP BY o.o_orderpriority
    """,
)
def join_range_theta(spark, sf_dir):
    """C10 — interval/range join: lineitems shipped within 90 days of their
    order date. The equi key carries the shuffle; the range predicate
    evaluates post-match, so this stays a hash/sort-merge join rather than
    a cartesian — the scalable shape for equi+range conditions."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    cond = (
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate <= F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"))
    )
    return o.join(li, cond).groupBy("o_orderpriority").agg(F.count("*").alias("cnt"))


def _asof_best(ev, left_type, right_type, cond, *order):
    """Rank-1 as-of match per left event: every ``left_type`` event joins
    the same user's ``right_type`` events that pass ``cond``, and a
    ``row_number`` window PARTITIONED by the left ``event_id`` keeps the
    first candidate under ``order``. Spark has no ASOF builtin; this is
    the scalable idiom — the join shuffles on user_id only, candidate
    fan-out is bounded per user (skewed users are the thing to salt at
    scale), and the rank window runs per left event, never globally.
    ``cond`` and ``order`` read the left event's ``ts`` and the
    candidate's ``m_id`` / ``m_ts``; ``order`` must end on ``m_id`` so
    the match is a total order both engines share. Returns every events
    column of the left event plus its match's ``m_id`` and ``m_ts``;
    left events without a candidate are absent (callers wanting LEFT
    semantics re-join their left events by ``event_id``)."""
    right = ev.filter(F.col("event_type") == right_type).select(
        F.col("event_id").alias("m_id"),
        F.col("user_id").alias("m_user_id"),
        F.col("ts").alias("m_ts"),
    )
    w = Window.partitionBy("event_id").orderBy(*order)
    return (
        ev.filter(F.col("event_type") == left_type)
        .join(right, (F.col("user_id") == F.col("m_user_id")) & cond)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "m_user_id")
    )


@query(
    "join_asof",
    f"""
    SELECT e.event_id, s.event_id AS signup_event_id,
           {duck_ts('e.ts')} AS error_ts, {duck_ts('s.ts')} AS signup_ts
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      ON e.user_id = s.user_id AND e.ts >= s.ts
    """,
)
def join_asof(spark, sf_dir):
    """C11 — as-of join: each error event matched to the same user's most
    recent prior (or simultaneous) signup (inner: errors with no such
    signup drop out). Oracle: DuckDB's native ASOF JOIN."""
    best = _asof_best(
        load_events(spark, sf_dir),
        "error",
        "signup",
        F.col("m_ts") <= F.col("ts"),
        F.desc("m_ts"),
        F.desc("m_id"),
    )
    return best.select(
        "event_id",
        F.col("m_id").alias("signup_event_id"),
        ts_str("ts").alias("error_ts"),
        ts_str("m_ts").alias("signup_ts"),
    )


@query(
    "join_cross",
    """
    SELECT r_name, m
    FROM region CROSS JOIN (SELECT CAST(range AS BIGINT) AS m FROM range(1, 4))
    """,
)
def join_cross(spark, sf_dir):
    """C12 — cross join against a bounded literal relation (broadcast
    nested loop; only sane when one side is tiny)."""
    region = load(spark, sf_dir, "region")
    m = spark.range(1, 4).withColumnRenamed("id", "m")
    return region.crossJoin(F.broadcast(m)).select("r_name", "m")


# --- aggregations -----------------------------------------------------------


@query(
    "agg_hash_groupby",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(round(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS sum_qty,
           CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS sum_base_price,
           CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                          * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
             AS sum_disc_price,
           round(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE)
                 / count(*), 2) AS avg_disc,
           count(*) AS cnt
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_hash_groupby(spark, sf_dir):
    """C13 — TPC-H Q1 shape: HashAggregate partial (map-side combine) +
    final after a tiny shuffle of pre-aggregated groups. The canonical
    'aggregation survives 100×' plan: shuffle volume ∝ distinct groups (6),
    not rows."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        money(F.sum(dec4("l_quantity"))).alias("sum_qty"),
        money(F.sum(dec4("l_extendedprice"))).alias("sum_base_price"),
        money(
            F.sum(dec4("l_extendedprice") * (1 - dec4("l_discount")))
        ).alias("sum_disc_price"),
        F.round(
            F.sum(dec4("l_discount")).cast("double") / F.count("*"), 2
        ).alias("avg_disc"),
        F.count("*").alias("cnt"),
    )


@query(
    "agg_distinct",
    """
    SELECT l_returnflag, count(DISTINCT l_partkey) AS distinct_parts
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_distinct(spark, sf_dir):
    """C14 — exact distinct aggregation (expands to two-phase aggregate)."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count_distinct("l_partkey").alias("distinct_parts"))
    )


@query(
    "agg_approx_distinct",
    """
    SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
           true AS approx_within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_distinct(spark, sf_dir):
    """C15 — HyperLogLog++ approximate count-distinct: the scale path when
    exact distinct's double shuffle is too expensive. Sketch estimates are
    engine-specific, so the cross-engine check is an error-bound contract:
    the query emits the exact distinct count plus a Spark-computed
    "approx within 5% of exact" boolean; the DuckDB oracle computes the
    same exact count and literal ``true``. A drifting HLL++ implementation
    flips the boolean and fails the hash — a genuine correctness gate, not
    a rows-only count. The approx-vs-exact tolerance test in
    tests/test_oracle_parity.py pins the raw estimate as well."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count_distinct("l_partkey").alias("exact_parts"),
            F.approx_count_distinct("l_partkey", 0.02).alias("_approx"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("_approx") - F.col("exact_parts"))
                / F.col("exact_parts")
                <= F.lit(0.05)
            ).alias("approx_within_5pct"),
        )
    )


@query(
    "agg_rollup",
    """
    SELECT COALESCE(CAST(year(o_orderdate) AS VARCHAR), 'ALL') AS yr,
           COALESCE(o_orderstatus, 'ALL') AS status,
           count(*) AS cnt,
           CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total
    FROM orders
    GROUP BY ROLLUP (year(o_orderdate), o_orderstatus)
    """,
)
def agg_rollup(spark, sf_dir):
    """C16 — ROLLUP with subtotal rows; NULL group markers normalized to
    'ALL' on both engines (fixture columns are never NULL, so the marker is
    unambiguous)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.rollup(F.year("o_orderdate").alias("yr_raw"), "o_orderstatus")
        .agg(
            F.count("*").alias("cnt"),
            money(F.sum(dec4("o_totalprice"))).alias("total"),
        )
        .select(
            F.coalesce(F.col("yr_raw").cast("string"), F.lit("ALL")).alias("yr"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "cnt",
            "total",
        )
    )


@query(
    "agg_grouping_sets",
    """
    SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
           COALESCE(o_orderstatus, 'ALL') AS status,
           count(*) AS cnt
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
)
def agg_grouping_sets(spark, sf_dir):
    """C17 — CUBE (all grouping sets over two dims)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "cnt",
        )
    )


# --- window functions -------------------------------------------------------


@query(
    "win_rank_topk",
    """
    SELECT o_custkey, o_orderkey, CAST(rn AS INTEGER) AS rn,
           CAST(round(CAST(o_totalprice AS DECIMAL(18,4)), 2) AS DOUBLE) AS total
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def win_rank_topk(spark, sf_dir):
    """C18 — top-3 orders per customer (ranking window, deterministic
    tie-break on o_orderkey). Per-group top-k via window beats global sort:
    one shuffle on the partition key, no global ordering."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        load(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey", "o_orderkey", "rn", money(dec4("o_totalprice")).alias("total")
        )
    )


@query(
    "win_running_sum",
    f"""
    SELECT o_custkey, o_orderkey, {duck_date('o_orderdate')} AS order_date,
           CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
             AS running_total
    FROM orders
    """,
)
def win_running_sum(spark, sf_dir):
    """C19 — running total per customer (frame unboundedPreceding..current;
    identical accumulation order on both engines makes the doubles
    bit-stable)."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        date_str("o_orderdate").alias("order_date"),
        money(F.sum(dec4("o_totalprice")).over(w)).alias("running_total"),
    )


@query(
    "win_lag_delta",
    """
    SELECT event_id,
           CAST(round(CAST(value AS DECIMAL(18,4)) - lag(CAST(value AS DECIMAL(18,4)))
             OVER (PARTITION BY user_id ORDER BY ts, event_id), 2) AS DOUBLE) AS delta
    FROM events
    """,
)
def win_lag_delta(spark, sf_dir):
    """C20 — lag analytic: per-user value delta between consecutive events
    (NULL for each user's first event)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return load_events(spark, sf_dir).select(
        "event_id",
        money(dec4("value") - F.lag(dec4("value")).over(w)).alias("delta"),
    )


@query(
    "win_ntile",
    """
    SELECT c_custkey,
           CAST(ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS INTEGER) AS quartile
    FROM customer
    """,
)
def win_ntile(spark, sf_dir):
    """C21 — ntile quartiles over a total order (c_custkey tie-break).
    Delegates to the distributed global-rank machinery (VERDICT r6
    cleanup: a user calling the legacy key must not get the
    single-partition plan) — same oracle, same rows; the scalable twin
    proved the equality before the legacy keys were re-pointed."""
    from .scale import win_ntile_scalable

    return win_ntile_scalable(spark, sf_dir)


# --- sort / set ops / dedup -------------------------------------------------


@query(
    "sort_limit_topk",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(round(CAST(l_extendedprice AS DECIMAL(18,4)), 2) AS DOUBLE) AS price
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 10
    """,
)
def sort_limit_topk(spark, sf_dir):
    """C22 — global ORDER BY + LIMIT -> TakeOrderedAndProject: each
    partition keeps its local top-10, driver merges 10×partitions rows —
    no global sort materializes at any scale."""
    return (
        load(spark, sf_dir, "lineitem")
        .orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
        .limit(10)
        .select(
            "l_orderkey",
            "l_linenumber",
            money(dec4("l_extendedprice")).alias("price"),
        )
    )


@query(
    "set_union_all",
    """
    SELECT c_nationkey AS nkey, 'customer' AS side FROM customer
    UNION ALL
    SELECT s_nationkey AS nkey, 'supplier' AS side FROM supplier
    """,
)
def set_union_all(spark, sf_dir):
    """C23 — UNION ALL (bag union, no shuffle: partitions concatenate)."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nkey"), F.lit("customer").alias("side")
    )
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nkey"), F.lit("supplier").alias("side")
    )
    return c.unionByName(s)


@query(
    "set_intersect",
    """
    SELECT c_nationkey AS nkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nkey FROM supplier
    """,
)
def set_intersect(spark, sf_dir):
    """C24 — INTERSECT (distinct semantics, both engines)."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nkey"))
    return c.intersect(s)


@query(
    "set_except",
    """
    SELECT p_size AS k FROM part
    EXCEPT
    SELECT CAST(l_linenumber AS INTEGER) AS k FROM lineitem
    """,
)
def set_except(spark, sf_dir):
    """C25 — EXCEPT (distinct): part sizes that never appear as a line
    number (non-empty at every fixture scale)."""
    p = load(spark, sf_dir, "part").select(F.col("p_size").alias("k"))
    li = load(spark, sf_dir, "lineitem").select(F.col("l_linenumber").alias("k"))
    return p.subtract(li)


@query(
    "dedup_exact",
    f"""
    SELECT user_id, event_type, event_id, {duck_ts('ts')} AS ts
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def dedup_exact(spark, sf_dir):
    """C26 / R11 — deterministic exact dedup: first event per
    (user_id, event_type) by (ts, event_id). row_number idiom, NOT bare
    dropDuplicates (which keeps an arbitrary row). Batch twin of streaming
    dropDuplicatesWithinWatermark."""
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        load_events(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", ts_str("ts").alias("ts"))
    )


# --- scalar function surface ------------------------------------------------


@query(
    "scalar_string",
    """
    SELECT p_partkey,
           lower(p_name) AS name_lc,
           upper(p_brand) AS brand_uc,
           substr(p_type, 1, 5) AS type5,
           concat(p_brand, '#', p_type) AS brand_type,
           trim(p_name) AS name_trim,
           regexp_extract(p_name, '([a-z]+)', 1) AS first_word
    FROM part
    """,
)
def scalar_string(spark, sf_dir):
    """C27 — string scalar surface: lower/upper/substr/concat/trim/regexp."""
    return load(spark, sf_dir, "part").select(
        "p_partkey",
        F.lower("p_name").alias("name_lc"),
        F.upper("p_brand").alias("brand_uc"),
        F.substring("p_type", 1, 5).alias("type5"),
        F.concat(F.col("p_brand"), F.lit("#"), F.col("p_type")).alias("brand_type"),
        F.trim("p_name").alias("name_trim"),
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
    )


@query(
    "scalar_date",
    f"""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(month(o_orderdate) AS INTEGER) AS mth,
           {duck_date("date_trunc('month', o_orderdate)")} AS month_start,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1995-01-01')
                AS INTEGER) AS days_to_95
    FROM orders
    """,
)
def scalar_date(spark, sf_dir):
    """C28 — date/time scalar surface: year/month/date_trunc/datediff
    (Spark datediff(end,start) == DuckDB date_diff('day',start,end))."""
    return load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mth"),
        date_str(F.date_trunc("month", F.col("o_orderdate"))).alias("month_start"),
        F.datediff(F.lit("1995-01-01").cast("date"), F.col("o_orderdate").cast("date"))
        .alias("days_to_95"),
    )


@query(
    "scalar_math",
    """
    SELECT l_orderkey, l_linenumber,
           round(abs(l_extendedprice - 1000.0), 6) AS abs_delta,
           round(ln(l_extendedprice + 1), 6) AS ln_price,
           round(power(l_quantity, 2), 6) AS qty_sq,
           round(CAST(l_partkey % 7 AS DOUBLE), 6) AS key_mod
    FROM lineitem
    """,
)
def scalar_math(spark, sf_dir):
    """C29 — math scalar surface; everything rounded to 6dp because libm
    last-bit differences between JVM and C transcendentals are real."""
    return load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_extendedprice") - 1000.0), 6).alias("abs_delta"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("ln_price"),
        F.round(F.pow("l_quantity", F.lit(2)), 6).alias("qty_sq"),
        F.round((F.col("l_partkey") % 7).cast("double"), 6).alias("key_mod"),
    )


@query(
    "scalar_array",
    """
    SELECT p_partkey,
           CAST(len(string_split(p_type, ' ')) AS INTEGER) AS n_tokens,
           list_contains(string_split(p_type, ' '), 'brushed') AS has_brushed,
           string_split(p_type, ' ')[1] AS first_tok
    FROM part
    """,
)
def scalar_array(spark, sf_dir):
    """C30 — array scalar surface: split/size/contains/element_at."""
    toks = F.split(F.col("p_type"), " ")
    return load(spark, sf_dir, "part").select(
        "p_partkey",
        F.size(toks).alias("n_tokens"),
        F.array_contains(toks, "brushed").alias("has_brushed"),
        F.element_at(toks, 1).alias("first_tok"),
    )


@query(
    "scalar_map_json",
    """
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket
    FROM events
    """,
)
def scalar_map_json(spark, sf_dir):
    """C31 — JSON access on the semi-structured props column."""
    return load_events(spark, sf_dir).select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        (F.get_json_object("props", "$.k").cast("int") % 10).alias("k_bucket"),
    )


@query(
    "udf_surface",
    """
    SELECT event_id,
           CAST(list_aggregate(
                  list_transform(string_split(event_type, ''),
                                 c -> unicode(c)),
                  'sum') % 1000 AS BIGINT) AS type_charsum,
           'evt:' || substr(event_type, 1, 2) AS type_tag
    FROM events
    """,
)
def udf_surface(spark, sf_dir):
    """C32 — the UDF escape hatch, demonstrated at both speeds: a
    vectorized pandas UDF (Arrow-batched — the only acceptable form in a
    hot path; the cached DEK unwrap in functions/crypto.py is the
    production example) and a row-at-a-time Python UDF (the slow path,
    present for surface completeness). Both UDFs compute pure functions
    with SQL mirrors (codepoint-sum mod 1000; prefix tag), so the whole
    Python execution path — pickling, Arrow batch transfer, worker
    protocol — is value-verified against a DuckDB oracle, not just
    row-counted."""
    from pyspark.sql.types import LongType, StringType

    char_sum = F.pandas_udf(_char_sum, LongType())  # vectorized
    tag = F.udf(_type_tag, StringType())  # row-at-a-time (demo only)
    return load_events(spark, sf_dir).select(
        "event_id",
        char_sum(F.col("event_type")).alias("type_charsum"),
        tag(F.col("event_type")).alias("type_tag"),
    )


# The UDF kernels are module-level functions, so a Python worker unpickles
# them by reference and imports this package — with it the per-task
# import-cache fix (``_zipcache``) — even when they are the first engine
# code the worker runs (see ``functions.crypto.make_hmac_udf``).
def _char_sum(s: pd.Series) -> pd.Series:
    return s.map(lambda x: sum(ord(c) for c in x) % 1000)


def _type_tag(x: str) -> str:
    return f"evt:{x[:2]}"


@query(
    "udtf_surface",
    """
    SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
           toks[i] || ' ' || toks[i + 1] AS bigram
    FROM (
      SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    )
    """,
)
def udtf_surface(spark, sf_dir):
    """C32c — user-defined TABLE function surface (Spark 4 Python UDTF):
    a generator class invoked through a SQL LATERAL join, expanding each
    document into (pos, bigram) rows. Unlike the UDF/UDAF demos this one
    IS EXACT-oracle-checked — the UDTF's expansion has a pure-SQL mirror
    (generate_series + list indexing in DuckDB), so the whole Python UDTF
    execution path (pickling, worker protocol, lateral correlation) is
    value-verified cross-engine, not just row-counted. Row-at-a-time
    Python is the slow path — in-engine hot paths use the built-in
    explode/sequence form (see text_chunk_windows); this operator exists
    to pin the extension surface."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, bigram string")
    class Bigrams:
        def eval(self, text: str):
            toks = text.split(" ")
            for i in range(len(toks) - 1):
                yield i, toks[i] + " " + toks[i + 1]

    spark.udtf.register("sg_bigrams", Bigrams)
    load(spark, sf_dir, "documents").createOrReplaceTempView("sg_documents")
    return spark.sql(
        "SELECT d.doc_id, t.pos, t.bigram "
        "FROM sg_documents d, LATERAL sg_bigrams(d.text) t"
    )


@query(
    "agg_percentile",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 6) AS median_price,
           round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentile(spark, sf_dir):
    """Exact interpolated percentiles (median / p90) per group. Both
    engines interpolate linearly over identical doubles -> identical
    results; 6dp rounding is identity for the <=3dp interpolated values.
    (The sketch-based scale paths are ``agg_approx_percentile`` and the
    mergeable ``agg_quantile_sketch_union`` — both EXACT via the
    error-bound oracle pattern.)"""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.percentile("l_extendedprice", F.lit(0.5)), 6).alias(
                "median_price"
            ),
            F.round(F.percentile("l_extendedprice", F.lit(0.9)), 6).alias(
                "p90_price"
            ),
        )
    )


@query(
    "agg_pivot",
    """
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
    FROM events GROUP BY user_id
    """,
)
def agg_pivot(spark, sf_dir):
    """Pivot: per-user event-type count matrix. The pivot values are
    declared explicitly — at scale an undeclared pivot forces an extra
    distinct-values job before the real aggregation."""
    return (
        load_events(spark, sf_dir)
        .groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


@query(
    "filt_scalar_subquery",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(round(CAST(l_extendedprice AS DECIMAL(18,4)), 2) AS DOUBLE) AS price
    FROM lineitem
    WHERE l_extendedprice > 1.8 * (SELECT AVG(l_extendedprice) FROM lineitem)
    """,
)
def filt_scalar_subquery(spark, sf_dir):
    """Scalar subquery in a predicate: lineitems priced at over 1.8x the
    corpus average. Catalyst plans the subquery as a separate tiny job
    whose result folds into the filter — no per-row recomputation."""
    li = load(spark, sf_dir, "lineitem")
    avg_price = li.select(F.avg("l_extendedprice").alias("a"))
    return (
        li.join(F.broadcast(avg_price))
        .filter(F.col("l_extendedprice") > 1.8 * F.col("a"))
        .select(
            "l_orderkey",
            "l_linenumber",
            money(dec4("l_extendedprice")).alias("price"),
        )
    )


@query(
    "win_range_frame",
    """
    SELECT o_custkey, o_orderkey,
           CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
             PARTITION BY o_custkey ORDER BY date_diff('day', DATE '1990-01-01',
                                                       CAST(o_orderdate AS DATE))
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
             AS sum_30d
    FROM orders
    """,
)
def win_range_frame(spark, sf_dir):
    """RANGE window frame: per customer, rolling 30-day order-value sum
    (value-based frame over an epoch-day ordering column, vs the row-based
    frame of win_running_sum). Decimal sum keeps it bit-deterministic
    even though frame contents, not accumulation order, define the value."""
    days = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(days)
        .rangeBetween(-30, Window.currentRow)
    )
    return load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        money(F.sum(dec4("o_totalprice")).over(w)).alias("sum_30d"),
    )


@query(
    "sql_entrypoint_q3",
    """
    SELECT o.o_orderkey,
           CAST(round(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
             AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
           o.o_orderpriority
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey LIMIT 10
    """,
)
def sql_entrypoint_q3(spark, sf_dir):
    """The SQL entry point: TPC-H Q3 shape submitted as SQL text over temp
    views — same Catalyst plan as the DataFrame API (one engine, two
    dialects). Views are registered per-sf_dir to keep calls re-entrant."""
    for t in ("customer", "orders", "lineitem"):
        load(spark, sf_dir, t).createOrReplaceTempView(f"sg_{t}")
    return spark.sql(
        """
        SELECT o.o_orderkey,
               CAST(round(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                              * (1 - CAST(l.l_discount AS DECIMAL(18,4)))), 2)
                    AS DOUBLE) AS revenue,
               date_format(o.o_orderdate, 'yyyy-MM-dd') AS order_date,
               o.o_orderpriority
        FROM sg_customer c JOIN sg_orders o ON c.c_custkey = o.o_custkey
                           JOIN sg_lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
        GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, o_orderkey LIMIT 10
        """
    )


@query(
    "udaf_surface",
    """
    SELECT l_returnflag, count(*) AS n, true AS udaf_matches_decomposition
    FROM lineitem GROUP BY l_returnflag
    """,
)
def udaf_surface(spark, sf_dir):
    """C32b — user-defined aggregate surface: a GROUPED_AGG pandas UDF
    (Arrow-batched Series -> scalar) computing the geometric mean of
    lineitem quantity per return flag. The vectorized UDAF is the escape
    hatch when no builtin aggregate composes — but unlike builtins it gets
    no map-side partial aggregation (the UDF needs the whole group), so
    the group's rows shuffle in full. Prefer builtins in hot paths; this
    one is decomposable (geomean = exp(avg(ln x))), which is exactly what
    makes it oracle-checkable: the geomean double itself is
    accumulation-order-dependent (np pairwise vs streaming sums differ in
    the last bits), so instead of hashing it the query emits a
    Spark-computed "UDAF agrees with its built-in decomposition to 1e-9"
    boolean beside the deterministic group counts; the oracle emits the
    same counts and literal true. The UDAF execution path (Arrow group
    transfer, grouped-agg protocol) is thereby value-gated cross-engine."""
    geo_mean = F.pandas_udf(_geo_mean, "double")
    li = load(spark, sf_dir, "lineitem")
    # grouped-agg pandas UDFs cannot share an .agg() with non-pandas
    # aggregates (INVALID_PANDAS_UDF_PLACEMENT) — two aggregations joined
    # on the 3-row group key, both partial-shuffled on the same column
    udaf = li.groupBy("l_returnflag").agg(geo_mean("l_quantity").alias("gm_udaf"))
    builtin = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.exp(F.avg(F.log(F.greatest(F.col("l_quantity"), F.lit(1e-12))))).alias(
            "gm_builtin"
        ),
    )
    return builtin.join(F.broadcast(udaf), "l_returnflag").select(
        "l_returnflag",
        "n",
        (F.abs(F.col("gm_udaf") - F.col("gm_builtin")) < 1e-9).alias(
            "udaf_matches_decomposition"
        ),
    )


def _geo_mean(v: pd.Series) -> float:
    """Module-level grouped-agg kernel (see ``_char_sum``)."""
    import numpy as np

    return float(np.exp(np.log(v.clip(lower=1e-12)).mean()))


@query(
    "join_multiway_q5",
    """
    SELECT n.n_name,
           CAST(round(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
             AS revenue
    FROM region r
      JOIN nation n ON n.n_regionkey = r.r_regionkey
      JOIN customer c ON c.c_nationkey = n.n_nationkey
      JOIN orders o ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def join_multiway_q5(spark, sf_dir):
    """TPC-H Q5 shape: 5-table join tree. The dims (region, nation) are
    explicit broadcasts — only customer⋈orders⋈lineitem shuffle, each on
    its key; Catalyst pushes r_name='ASIA' through the broadcast chain so
    non-ASIA customers never reach the big joins."""
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            money(
                F.sum(dec4("l_extendedprice") * (1 - dec4("l_discount")))
            ).alias("revenue")
        )
    )


@query(
    "agg_having_subquery",
    """
    SELECT o_custkey,
           CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_spend
    FROM orders
    GROUP BY o_custkey
    HAVING SUM(CAST(o_totalprice AS DECIMAL(18,4)))
           > 3 * (SELECT AVG(o_totalprice) FROM orders)
    """,
)
def agg_having_subquery(spark, sf_dir):
    """HAVING with a scalar subquery: customers whose total spend exceeds
    3x the corpus-average order value — the aggregated-filter shape. The
    subquery is one tiny job broadcast into a post-aggregation filter (no
    second shuffle of the grouped data)."""
    o = load(spark, sf_dir, "orders")
    avg_total = o.select(F.avg("o_totalprice").alias("avg_tp"))
    return (
        o.groupBy("o_custkey")
        .agg(F.sum(dec4("o_totalprice")).alias("spend_dec"))
        .join(F.broadcast(avg_total))
        .filter(F.col("spend_dec") > 3 * F.col("avg_tp"))
        .select("o_custkey", money(F.col("spend_dec")).alias("total_spend"))
    )


@query(
    "agg_stats_moments",
    """
    SELECT l_returnflag,
           round((CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))
                           * CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                  - CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                    * CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                    / count(*))
                 / (count(*) - 1), 6) AS qty_var,
           round(sqrt((CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))
                                * CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                       - CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                         * CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                         / count(*))
                      / (count(*) - 1)), 6) AS qty_stddev
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_stats_moments(spark, sf_dir):
    """Variance / stddev via explicit moment sums: builtin var_samp
    accumulates engine-specifically (Welford vs naive => different FP), so
    the cross-engine-exact form derives both from DECIMAL moment sums
    (x is clean 4dp -> x^2 exact at 8dp) with identical double arithmetic
    at the end. Moment sums also partial-aggregate map-side — the shape a
    100 TB stats pass wants anyway."""
    q = dec4("l_quantity")
    sum_x = F.sum(q).cast("double")
    sum_x2 = F.sum(q * q).cast("double")
    n = F.count("*")
    var = (sum_x2 - sum_x * sum_x / n) / (n - 1)
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(var, 6).alias("qty_var"),
            F.round(F.sqrt(var), 6).alias("qty_stddev"),
        )
    )


@query(
    "agg_collect_sorted",
    """
    SELECT l_returnflag,
           array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
           CAST(len(list(DISTINCT l_linestatus)) AS INTEGER) AS n_statuses
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_collect_sorted(spark, sf_dir):
    """Collection aggregate with deterministic order: collect_set is
    unordered (and collect_list arrival-ordered — never hash that), so the
    portable form sorts before emitting, serialized to a string."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.array_join(F.array_sort(F.collect_set("l_linestatus")), ",").alias(
                "statuses"
            ),
            F.size(F.collect_set("l_linestatus")).alias("n_statuses"),
        )
    )


@query(
    "scalar_edit_distance",
    """
    SELECT p_partkey,
           CAST(levenshtein(p_brand, substr(p_type, 1, 8)) AS INTEGER)
             AS brand_type_dist
    FROM part
    """,
)
def scalar_edit_distance(spark, sf_dir):
    """Edit distance (Levenshtein) — the string-similarity scalar both
    engines implement identically; useful as the verify stage of fuzzy
    entity dedup."""
    return load(spark, sf_dir, "part").select(
        "p_partkey",
        F.levenshtein("p_brand", F.substring("p_type", 1, 8)).alias(
            "brand_type_dist"
        ),
    )


@query(
    "scalar_null_conditional",
    """
    SELECT c_custkey,
           coalesce(nullif(c_mktsegment, 'MACHINERY'), 'OTHER') AS segment_norm,
           greatest(CAST(round(CAST(c_acctbal AS DECIMAL(18,4)), 2) AS DOUBLE),
                    0.0) AS bal_floor,
           CAST(least(CAST(c_nationkey AS INTEGER), 10) AS INTEGER) AS nation_capped,
           (c_acctbal IS NOT NULL AND c_acctbal > 0) AS is_positive
    FROM customer
    """,
)
def scalar_null_conditional(spark, sf_dir):
    """Null-handling / conditional scalar surface: nullif + coalesce
    (value normalization), greatest/least (clamping), boolean predicates
    as columns."""
    return load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.coalesce(
            F.nullif("c_mktsegment", F.lit("MACHINERY")), F.lit("OTHER")
        ).alias("segment_norm"),
        F.greatest(money(dec4("c_acctbal")), F.lit(0.0)).alias("bal_floor"),
        F.least(F.col("c_nationkey"), F.lit(10)).alias("nation_capped"),
        (F.col("c_acctbal").isNotNull() & (F.col("c_acctbal") > 0)).alias(
            "is_positive"
        ),
    )


@query(
    "win_first_last",
    """
    SELECT DISTINCT o_custkey,
           strftime(first_value(o_orderdate) OVER w, '%Y-%m-%d') AS first_order,
           strftime(last_value(o_orderdate) OVER w, '%Y-%m-%d') AS last_order,
           count(*) OVER w AS n_orders
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_first_last(spark, sf_dir):
    """first_value/last_value analytics over the full-partition frame
    (explicit UNBOUNDED FOLLOWING — last_value under the default frame is
    a classic correctness trap), deduplicated to one row per customer."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        load(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            date_str(F.first("o_orderdate").over(w)).alias("first_order"),
            date_str(F.last("o_orderdate").over(w)).alias("last_order"),
            F.count("*").over(w).alias("n_orders"),
        )
        .distinct()
    )


@query(
    "agg_approx_percentile",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 6) AS median_exact,
           round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_exact,
           true AS approx_within_1pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_percentile(spark, sf_dir):
    """Sketch percentiles (approx_percentile, accuracy 10000): the scale
    path when exact percentiles' full sort/collection per group is too
    expensive — single pass, mergeable sketches, map-side partials.
    Sketch estimates are engine-specific, so (like agg_approx_distinct)
    the cross-engine check is an error-bound contract: emit the exact
    interpolated percentiles plus a Spark-computed "both approximations
    within 1% of exact" boolean; the oracle computes the same exact
    values and literal true. A drifting sketch flips the boolean and
    fails the hash."""
    apx50 = F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000))
    apx90 = F.percentile_approx("l_extendedprice", F.lit(0.9), F.lit(10000))
    ex50 = F.percentile("l_extendedprice", F.lit(0.5))
    ex90 = F.percentile("l_extendedprice", F.lit(0.9))
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(ex50, 6).alias("median_exact"),
            F.round(ex90, 6).alias("p90_exact"),
            (
                (F.abs(apx50 - ex50) / ex50 <= 0.01)
                & (F.abs(apx90 - ex90) / ex90 <= 0.01)
            ).alias("approx_within_1pct"),
        )
    )


@query(
    "join_full_outer",
    """
    WITH s AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS n_signup
      FROM events WHERE event_type = 'signup' GROUP BY 1
    ),
    p AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS n_purchase
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT strftime(COALESCE(s.day, p.day), '%Y-%m-%d') AS day,
           CAST(COALESCE(s.n_signup, 0) AS BIGINT) AS n_signup,
           CAST(COALESCE(p.n_purchase, 0) AS BIGINT) AS n_purchase
    FROM s FULL OUTER JOIN p ON s.day = p.day
    """,
)
def join_full_outer(spark, sf_dir):
    """C7b — FULL OUTER join: daily signup counts ⟗ daily purchase
    counts, surfacing days where either side is absent (zero-filled).
    Full outer forbids broadcast in Spark — the physical plan is a
    sort-merge on the day key, which is the correct 100 TB shape too
    (both sides are pre-aggregated to |days| rows first, so the outer
    join is grid-sized, not event-sized)."""
    ev = load_events(spark, sf_dir)
    day = F.col("ts").cast("date").alias("day")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy(day)
        .agg(F.count("*").alias("n_signup"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(day)
        .agg(F.count("*").alias("n_purchase"))
    )
    return (
        s.join(p, "day", "full_outer")
        .select(
            date_str("day").alias("day"),
            F.coalesce("n_signup", F.lit(0)).cast("long").alias("n_signup"),
            F.coalesce("n_purchase", F.lit(0)).cast("long").alias("n_purchase"),
        )
    )


@query(
    "unpivot_melt",
    """
    SELECT l_orderkey, l_linenumber, measure, value FROM (
      SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
             l_quantity AS value FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
      FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
      FROM lineitem
    ) WHERE l_orderkey <= 1000
    """,
)
def unpivot_melt(spark, sf_dir):
    """C-melt — wide→long unpivot of three lineitem measures (native
    ``DataFrame.unpivot``, the inverse of agg_pivot). Values pass
    through untouched — the same parquet doubles in both engines, no
    arithmetic — so the melt is trivially EXACT. Unpivot is a narrow
    ×k row expansion (no shuffle); the oracle mirrors with UNION ALL,
    which is also the portable fallback shape."""
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 1000)
        .select("l_orderkey", "l_linenumber", "l_quantity",
                "l_extendedprice", "l_discount")
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "value",
    )


@query(
    "set_intersect_all",
    """
    SELECT user_id, count(*) AS n FROM (
      SELECT user_id FROM events WHERE event_type = 'click'
      INTERSECT ALL
      SELECT user_id FROM events WHERE event_type = 'view'
    ) GROUP BY user_id
    """,
)
def set_intersect_all(spark, sf_dir):
    """C24b — INTERSECT ALL (bag semantics): per user, min(clicks,
    views) occurrences survive — the multiset intersection both engines
    define identically. Aggregated to (user_id, n) so the result is a
    compact census rather than a row-per-occurrence blob."""
    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    views = ev.filter(F.col("event_type") == "view").select("user_id")
    return (
        clicks.intersectAll(views)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
    )


@query(
    "set_except_all",
    """
    SELECT user_id, count(*) AS n FROM (
      SELECT user_id FROM events WHERE event_type = 'click'
      EXCEPT ALL
      SELECT user_id FROM events WHERE event_type = 'purchase'
    ) GROUP BY user_id
    """,
)
def set_except_all(spark, sf_dir):
    """C25b — EXCEPT ALL (bag semantics): per user, max(clicks −
    purchases, 0) occurrences survive. Same census aggregation as
    INTERSECT ALL."""
    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return (
        clicks.exceptAll(purchases)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
    )


@query(
    "agg_mode_per_user",
    """
    SELECT user_id, event_type AS modal_type, CAST(n AS BIGINT) AS n
    FROM (
      SELECT user_id, event_type, count(*) AS n,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY count(*) DESC, event_type) AS rk
      FROM events GROUP BY user_id, event_type
    ) WHERE rk = 1
    """,
)
def agg_mode_per_user(spark, sf_dir):
    """C-mode — modal (most frequent) value per group, deterministic
    under ties (count desc, value asc): each user's dominant event type.
    Two-stage count then a per-user ranking window over the ≤|types|
    rows each user owns — the window input is the aggregate, never the
    raw events, so the sort is per-key-tiny at any scale. (DuckDB's
    native ``mode()`` breaks ties arbitrarily — the explicit window IS
    the portable determinism discipline.)"""
    ev = load_events(spark, sf_dir)
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), "event_type")
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", F.col("event_type").alias("modal_type"), "n")
    )


@query(
    "rfm_segmentation",
    """
    WITH per_cust AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_order,
             count(*) AS frequency,
             SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT o_custkey, frequency, monetary,
             ntile(5) OVER (ORDER BY last_order DESC, o_custkey) AS r_score,
             ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
             ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
      FROM per_cust
    )
    SELECT o_custkey,
           CAST(frequency AS BIGINT) AS frequency,
           CAST(round(monetary, 2) AS DOUBLE) AS monetary,
           CAST(r_score AS INTEGER) AS r_score,
           CAST(f_score AS INTEGER) AS f_score,
           CAST(m_score AS INTEGER) AS m_score,
           CASE WHEN r_score = 1 AND f_score <= 2 AND m_score <= 2
                  THEN 'champion'
                WHEN r_score <= 2 AND f_score <= 3 THEN 'loyal'
                WHEN r_score >= 4 AND m_score <= 2 THEN 'at_risk_big_spender'
                WHEN r_score >= 4 THEN 'dormant'
                ELSE 'regular' END AS segment
    FROM scored
    """,
)
def rfm_segmentation(spark, sf_dir):
    """RFM customer segmentation — the canonical warehouse scoring
    query: per-customer recency/frequency/monetary, quintile scores
    (deterministic: every ORDER BY carries the custkey tie-break, and
    ntile's equal-split rule is identical in both engines), then a
    rule-based segment label. Delegates to the distributed rank
    machinery (VERDICT r6 cleanup) — the three quintile windows run as
    independent `_global_rank` passes + the integer ntile formula, no
    single-partition window anywhere; the scalable twin proved oracle
    equality on all three orderings before the legacy key was
    re-pointed."""
    from .scale import rfm_segmentation_scalable

    return rfm_segmentation_scalable(spark, sf_dir)


@query(
    "win_time_range_sum",
    """
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS n_last_hour,
           CAST(round(SUM(CAST(value AS DECIMAL(18,4))) OVER w, 2) AS DOUBLE)
             AS sum_last_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def win_time_range_sum(spark, sf_dir):
    """Time-interval RANGE frame — the window feature ROWS frames can't
    express: each event's trailing-1-hour per-user activity (count +
    decimal sum), frame membership decided by event-TIME distance, not
    row position. The canonical rolling-rate / velocity-check shape
    (fraud scoring, rate limiting). Spark's rangeBetween needs a numeric
    order key, so ts becomes epoch microseconds via timestampdiff over an
    NTZ epoch base (NOT a cast to instant + unix_micros — under a non-UTC
    session timezone the NTZ->instant offset varies across DST and could
    flip frame membership) and the frame is [-3.6e9 µs, 0]; DuckDB's
    native RANGE INTERVAL mirror decides the identical membership (both
    bounds inclusive, ts is µs-precision NTZ in both engines — peers with
    equal ts share a frame under RANGE semantics in both). Decimal sums
    keep frame totals bit-stable. One shuffle on user_id; frame state is
    bounded by events-per-hour, independent of history length."""
    ev = load_events(spark, sf_dir)
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_last_hour"),
        money(F.sum(dec4("value")).over(w)).alias("sum_last_hour"),
    )


@query(
    "agg_cube",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
           COALESCE(l_linestatus, 'ALL') AS lstatus,
           count(*) AS cnt,
           CAST(round(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark, sf_dir):
    """C16b — CUBE: all 2^k grouping-key subsets in one pass (ROLLUP's
    hierarchical cousin; completes the grouping-operator family beside
    ``agg_rollup`` and ``agg_grouping_sets``). Catalyst plans one Expand
    (4 rows per input row here) + one partial/final HashAggregate — the
    multiplier is 2^k, which is why k stays small in practice and why a
    wide-k cube decomposes into grouping sets instead. NULL markers
    normalized to 'ALL' (fixture columns never NULL)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("cnt"),
            money(F.sum(dec4("l_quantity"))).alias("qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("lstatus"),
            "cnt",
            "qty",
        )
    )


@query(
    "profile_table_stats",
    """
    SELECT col, n, n_null, n_distinct, min_s, max_s FROM (
      SELECT 'o_orderkey' AS col, count(*) AS n,
             count(*) - count(o_orderkey) AS n_null,
             CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
             CAST(min(o_orderkey) AS VARCHAR) AS min_s,
             CAST(max(o_orderkey) AS VARCHAR) AS max_s
      FROM orders
      UNION ALL
      SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
             CAST(count(DISTINCT o_orderstatus) AS BIGINT),
             min(o_orderstatus), max(o_orderstatus)
      FROM orders
      UNION ALL
      SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
             CAST(count(DISTINCT o_orderpriority) AS BIGINT),
             min(o_orderpriority), max(o_orderpriority)
      FROM orders
      UNION ALL
      SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
             CAST(count(DISTINCT o_custkey) AS BIGINT),
             CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
      FROM orders
    )
    """,
)
def profile_table_stats(spark, sf_dir):
    """Table profiling — the data-QA census every ingest pipeline runs
    before training on a new source: per-column row count, null count,
    exact distinct count, and min/max (stringified so one long-format
    schema carries any column type). Computed in ONE pass over the table:
    a single wide aggregate produces all per-column stats, then a
    4-way stack pivots to long format — versus the naive
    one-scan-per-column loop, the scan and shuffle happen once. At
    100 TB swap count_distinct for the HLL sketch
    (``agg_hll_partitioned_union``) per column; shape is unchanged."""
    o = load(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_orderstatus", "o_orderpriority", "o_custkey"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nn"),
            F.count_distinct(c).alias(f"{c}__nd"),
            # min/max in the column's NATIVE order, stringified after —
            # casting first would rank numerics lexicographically
            F.min(c).cast("string").alias(f"{c}__mn"),
            F.max(c).cast("string").alias(f"{c}__mx"),
        ]
    wide = o.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__n, {c}__nn, {c}__nd, {c}__mn, {c}__mx" for c in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack}) AS (col, n, n_null, n_distinct, min_s, max_s)"
        )
    )


@query(
    "join_asof_nearest",
    """
    SELECT event_id, signup_event_id, delta_us FROM (
      SELECT e.event_id, s.event_id AS signup_event_id,
             abs(date_diff('microseconds', s.ts, e.ts)) AS delta_us,
             row_number() OVER (
               PARTITION BY e.event_id
               ORDER BY abs(date_diff('microseconds', s.ts, e.ts)),
                        s.ts, s.event_id) AS rn
      FROM events e JOIN events s ON s.user_id = e.user_id
      WHERE e.event_type = 'error' AND s.event_type = 'signup'
    ) WHERE rn = 1
    """,
)
def join_asof_nearest(spark, sf_dir):
    """Nearest-neighbor as-of join (both directions): each error event
    matched to the same user's temporally CLOSEST signup, before or
    after — the sensor-alignment / feature-attach variant the plain
    backward ASOF (C11) can't express. Ties break on (earlier signup,
    smaller id), a total order both engines share; distance is an
    INTEGER microsecond diff, so the argmin is exact."""
    delta = F.abs(F.expr("timestampdiff(MICROSECOND, m_ts, ts)"))
    best = _asof_best(
        load_events(spark, sf_dir),
        "error",
        "signup",
        F.lit(True),
        delta,
        F.col("m_ts"),
        F.col("m_id"),
    )
    return best.select(
        "event_id", F.col("m_id").alias("signup_event_id"), delta.alias("delta_us")
    )


@query(
    "sql_recursive_date_spine",
    """
    WITH RECURSIVE spine(d) AS (
      SELECT CAST(min(ts) AS DATE) FROM events
      UNION ALL
      SELECT d + 1 FROM spine
      WHERE d < (SELECT CAST(max(ts) AS DATE) FROM events)
    )
    SELECT strftime(spine.d, '%Y-%m-%d') AS day,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events
    FROM spine LEFT JOIN (
      SELECT CAST(ts AS DATE) AS dd, count(*) AS n FROM events GROUP BY 1
    ) c ON c.dd = spine.d
    """,
)
def sql_recursive_date_spine(spark, sf_dir):
    """Recursive CTE surface (Spark 4 ``WITH RECURSIVE``, UNION ALL
    form): a daily date spine generated by the recursion from the
    stream's first to last day, left-joined with per-day counts — the
    calendar-dimension builder every warehouse ships, written in the
    SAME declarative SQL DuckDB runs (the oracle is the identical
    recursion modulo date arithmetic spelling). Each recursion step is
    one tiny row; Spark executes the loop as iterative union steps on
    the driver plan, and the only real work is the per-day aggregate
    (partial-combining, keyspace = days). UNION-distinct recursion
    (cyclic reachability) is not yet supported by Spark 4.1 — the
    general-graph path stays the star-contraction operator
    (dedup_cluster_components), which is the right 100 TB algorithm
    anyway."""
    load_events(spark, sf_dir).createOrReplaceTempView("sg_events")
    return spark.sql(
        """
        WITH RECURSIVE spine(d) AS (
          SELECT CAST(min(ts) AS DATE) FROM sg_events
          UNION ALL
          SELECT date_add(d, 1) FROM spine
          WHERE d < (SELECT CAST(max(ts) AS DATE) FROM sg_events)
        )
        SELECT date_format(spine.d, 'yyyy-MM-dd') AS day,
               COALESCE(c.n, CAST(0 AS BIGINT)) AS n_events
        FROM spine LEFT JOIN (
          SELECT CAST(ts AS DATE) AS dd, count(*) AS n
          FROM sg_events GROUP BY 1
        ) c ON c.dd = spine.d
        """
    )


@query(
    "supplier_lead_time",
    """
    SELECT l_suppkey,
           CAST(count(*) AS BIGINT) AS n_shipments,
           CAST(min(lead_days) AS BIGINT) AS min_days,
           CAST(max(lead_days) AS BIGINT) AS max_days,
           CAST(SUM(lead_days) // count(*) AS BIGINT) AS mean_days_floor
    FROM (
      SELECT l.l_suppkey,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS lead_days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    GROUP BY l_suppkey
    """,
)
def supplier_lead_time(spark, sf_dir):
    """Supplier lead-time census — order date to ship date in whole days
    per supplier (count/min/max/floored mean): the supply-chain SLA
    table next to TPC-H's revenue views. Fact-fact join on the order key
    (sort-merge at scale; both tables arrive partitionable on it — the
    bucketed variant is ``join_bucketed_colocated``), then one
    partial-aggregating groupBy per supplier. Day difference and the
    summary are all integers — exact cross-engine."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", F.col("l_shipdate").cast("date").alias("sd")
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("od")
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_suppkey", F.datediff("sd", "od").alias("lead_days")
    )
    return j.groupBy("l_suppkey").agg(
        F.count("*").alias("n_shipments"),
        F.min("lead_days").cast("long").alias("min_days"),
        F.max("lead_days").cast("long").alias("max_days"),
        F.expr("sum(lead_days) div count(*)").alias("mean_days_floor"),
    )


@query(
    "customer_value_quartiles",
    """
    WITH rev AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS r
      FROM orders GROUP BY o_custkey
    ),
    q AS (SELECT o_custkey, r, ntile(4) OVER (ORDER BY r, o_custkey) AS quartile
          FROM rev)
    SELECT CAST(quartile AS INTEGER) AS quartile,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(round(SUM(r), 2) AS DOUBLE) AS total_revenue,
           CAST(round(min(r), 2) AS DOUBLE) AS min_revenue,
           CAST(round(max(r), 2) AS DOUBLE) AS max_revenue
    FROM q GROUP BY quartile
    """,
)
def customer_value_quartiles(spark, sf_dir):
    """Customer lifetime-value quartiles: per-customer revenue (decimal
    sums), quartile assignment with a customer tie-break for
    determinism, then the per-quartile census — the segmentation table
    CRM/BI reads first ("the top quartile is X% of revenue"). Delegates
    to the distributed rank machinery (VERDICT r6 cleanup) — identical
    oracle, no single-partition window; the scalable twin proved the
    equality before the legacy key was re-pointed."""
    from .scale import customer_value_quartiles_scalable

    return customer_value_quartiles_scalable(spark, sf_dir)


@query(
    "events_hourly_seasonality",
    """
    SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
           CAST(hour(ts) AS INTEGER) AS hour,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1, 2
    """,
)
def events_hourly_seasonality(spark, sf_dir):
    """Activity seasonality matrix: (day-of-week × hour-of-day) event and
    distinct-user counts — the capacity-planning / anomaly-baseline grid
    (compare a live hour against its seasonal cell). One partial-
    aggregating groupBy into at most 168 cells; the distinct count is
    the only real shuffle. NB the engines DISAGREE on dayofweek
    numbering (Spark Sunday=1..7, DuckDB Sunday=0..6 — probed); the
    oracle adds 1 to align on Spark's convention."""
    ev = load_events(spark, sf_dir)
    return ev.groupBy(
        F.dayofweek("ts").cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hour"),
    ).agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    )


@query(
    "orders_priority_mix_shift",
    """
    SELECT strftime(m, '%Y-%m-%d') AS month, o_orderpriority,
           CAST(n_orders AS BIGINT) AS n_orders,
           round(CAST(n_orders AS DOUBLE)
                 / SUM(n_orders) OVER (PARTITION BY m), 6) AS share
    FROM (
      SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
             o_orderpriority, count(*) AS n_orders
      FROM orders GROUP BY 1, 2
    )
    """,
)
def orders_priority_mix_shift(spark, sf_dir):
    """Order-priority composition by month — the mix-shift view that
    separates "volume grew" from "the KIND of demand changed". Month ×
    priority counts (partial-aggregating) plus a per-month normalizing
    window over the tiny matrix; the share is one rounded double
    division. Month is truncated-date-as-string so both engines format
    identically."""
    o = load(spark, sf_dir, "orders")
    month = F.date_trunc("month", F.col("o_orderdate").cast("date"))
    c = o.groupBy(month.alias("m"), "o_orderpriority").agg(
        F.count("*").alias("n_orders")
    )
    w = Window.partitionBy("m")
    return c.select(
        date_str(F.col("m").cast("date")).alias("month"),
        "o_orderpriority",
        "n_orders",
        F.round(
            F.col("n_orders").cast("double") / F.sum("n_orders").over(w), 6
        ).alias("share"),
    )


@query(
    "orders_pareto_abc",
    """
    WITH rev AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS r
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT o_custkey, r,
             SUM(r) OVER (ORDER BY r DESC, o_custkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM rev
    ),
    tot AS (SELECT SUM(r) AS total FROM rev)
    SELECT cls,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(round(SUM(r), 2) AS DOUBLE) AS revenue,
           round(CAST(SUM(r) AS DOUBLE) / CAST(max(total) AS DOUBLE), 6)
             AS revenue_share
    FROM (
      SELECT CASE WHEN cum * 100 <= total * 80 THEN 'A'
                  WHEN cum * 100 <= total * 95 THEN 'B'
                  ELSE 'C' END AS cls,
             r, total
      FROM ranked, tot
    )
    GROUP BY cls
    """,
)
def orders_pareto_abc(spark, sf_dir):
    """Pareto / ABC revenue segmentation: customers ranked by revenue,
    class A = the head worth the first 80% of cumulative revenue, B to
    95%, C the tail — the inventory-policy census ('how concentrated is
    the book') behind every 80/20 claim. Correctness at the class
    boundaries is the hazard: the cumulative sum runs in DECIMAL over a
    fully tie-broken order (revenue DESC, custkey) and the thresholds
    compare as integer-scaled decimals (cum*100 <= total*80), so both
    engines cut A/B/C on the same customer — no float drift at the
    boundary. Shape: one partial-aggregating groupBy to customer grain,
    then a DISTRIBUTED global prefix sum over the |customers|-grain
    aggregate — delegated to :func:`~..scale._global_cumsum` (range
    repartition, per-partition decimal prefix sums in parallel, bounded
    per-partition offset fix-up) exactly as the legacy ntile keys
    delegate to ``_global_rank``: the oracle keeps the plain
    ``SUM() OVER (ORDER BY)`` form so equality with the windowed
    semantics is proven, while the plan carries no single-partition
    WindowExec (customer grain is unbounded at 100 TB); the grand total
    rides in as a broadcast 1-row aggregate."""
    from .scale import _global_cumsum

    rev = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(dec4("o_totalprice")).alias("r"))
    )
    ranked = _global_cumsum(rev, "r", F.desc("r"), F.col("o_custkey"))
    tot = rev.agg(F.sum("r").alias("total"))
    cls = (
        F.when(F.col("cum") * 100 <= F.col("total") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("total") * 95, "B")
        .otherwise("C")
    )
    return (
        ranked.crossJoin(F.broadcast(tot))  # |customers| x 1 row
        .select(cls.alias("cls"), "r", "total")
        .groupBy("cls")
        .agg(
            F.count("*").alias("n_customers"),
            money(F.sum("r")).alias("revenue"),
            F.round(
                F.sum("r").cast("double") / F.max("total").cast("double"), 6
            ).alias("revenue_share"),
        )
    )


@query(
    "orders_cohort_ltv_curve",
    """
    WITH o AS (
      SELECT o_custkey,
             year(o_orderdate) * 12 + (month(o_orderdate) - 1) AS m,
             CAST(o_totalprice AS DECIMAL(18,4)) AS r
      FROM orders
    ),
    first AS (SELECT o_custkey, min(m) AS m0 FROM o GROUP BY 1),
    sizes AS (SELECT m0, count(*) AS cohort_customers FROM first GROUP BY 1),
    cells AS (
      SELECT f.m0, o.m - f.m0 AS month_offset,
             count(*) AS n_orders, SUM(o.r) AS rev
      FROM o JOIN first f USING (o_custkey)
      GROUP BY 1, 2
    )
    SELECT printf('%04d-%02d', m0 // 12, m0 % 12 + 1) AS cohort,
           CAST(month_offset AS INTEGER) AS month_offset,
           CAST(cohort_customers AS BIGINT) AS cohort_customers,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(round(rev, 2) AS DOUBLE) AS revenue,
           (CAST(SUM(rev) OVER (PARTITION BY m0 ORDER BY month_offset
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) * 10000 AS BIGINT)
            // cohort_customers) / 10000.0 AS cum_revenue_per_customer
    FROM cells JOIN sizes USING (m0)
    """,
)
def orders_cohort_ltv_curve(spark, sf_dir):
    """Cohort lifetime-value curves: customers grouped by first-order
    month, revenue tracked per month offset, cumulative LTV-per-customer
    per cohort — the curve growth/finance teams read to compare cohort
    quality over time (the revenue twin of ``retention_cohorts``).
    Engine-neutral month math: months live as year*12+(month-1) integers,
    so the offset is a subtraction, never an interval function with
    per-engine calendar semantics. Decimal revenue end to end; the
    cumulative window runs over the (cohort × offset) AGGREGATE (≤ a few
    hundred rows), never the orders table — at 100 TB the only fact-sized
    shuffles are the per-customer min and the (cohort, offset) partial
    agg, both map-side-combining; cohort sizes ride back in as a
    broadcast."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("m"),
        dec4("o_totalprice").alias("r"),
    )
    first = o.groupBy("o_custkey").agg(F.min("m").alias("m0"))
    sizes = first.groupBy("m0").agg(F.count("*").alias("cohort_customers"))
    cells = (
        o.join(first, "o_custkey")
        .groupBy("m0", (F.col("m") - F.col("m0")).alias("month_offset"))
        .agg(F.count("*").alias("n_orders"), F.sum("r").alias("rev"))
    )
    w = (
        Window.partitionBy("m0")
        .orderBy("month_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cells.join(F.broadcast(sizes), "m0")
        .withColumn("cum", F.sum("rev").over(w))
        .select(
            F.format_string(
                "%04d-%02d", F.expr("m0 DIV 12"), F.pmod("m0", F.lit(12)) + 1
            ).alias("cohort"),
            F.col("month_offset").cast("int").alias("month_offset"),
            "cohort_customers",
            "n_orders",
            money(F.col("rev")).alias("revenue"),
            # exact: decimal cum -> integer 1e-4 units -> floor-div by the
            # cohort size -> ONE shared IEEE division (no round() at a
            # half-even/half-up boundary — the hazard the double form hit)
            (
                F.expr("CAST(cum * 10000 AS BIGINT) DIV cohort_customers")
                / 10000.0
            ).alias("cum_revenue_per_customer"),
        )
    )


_MIG_SPLIT = "1996-01-01"  # period A strictly before, period B on/after


@query(
    "customer_segment_migration",
    f"""
    WITH seg AS (
      SELECT o_custkey, period, ntile(4) OVER (PARTITION BY period
               ORDER BY r, o_custkey) AS seg
      FROM (
        SELECT o_custkey,
               CASE WHEN o_orderdate < TIMESTAMP '{_MIG_SPLIT}'
                    THEN 'A' ELSE 'B' END AS period,
               SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS r
        FROM orders GROUP BY 1, 2
      )
    ),
    a AS (SELECT o_custkey, seg FROM seg WHERE period = 'A'),
    b AS (SELECT o_custkey, seg FROM seg WHERE period = 'B')
    SELECT COALESCE(CAST(a.seg AS INTEGER), 0) AS seg_before,
           COALESCE(CAST(b.seg AS INTEGER), 0) AS seg_after,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
    GROUP BY 1, 2
    """,
)
def customer_segment_migration(spark, sf_dir):
    """Customer value-segment MIGRATION matrix — the retention
    twin of ``customer_value_quartiles``: customers quartiled by revenue
    within each of two periods (before/after {_MIG_SPLIT}), then the
    (segment-before × segment-after) transition counts, with 0 meaning
    'not present in that period' (new or lapsed customers get their own
    row/column — the matrix margins ARE the churn/acquisition census).
    Determinism: per-period decimal revenue + tie-broken ntile(4), so
    both engines cut quartiles on the same customer; the FULL OUTER join
    keeps one-sided customers. Shape: one customer-grain partial agg,
    one per-period window over |customers| rows, one full outer join of
    two |customers|-sized sides (sort-merge on custkey), and a ≤25-cell
    aggregate. At 100 TB the per-period windows become sketch-quantile
    threshold joins, same downstream matrix."""
    per = (
        load(spark, sf_dir, "orders")
        .groupBy(
            "o_custkey",
            F.when(
                F.col("o_orderdate") < F.lit(_MIG_SPLIT).cast("timestamp"), "A"
            )
            .otherwise("B")
            .alias("period"),
        )
        .agg(F.sum(dec4("o_totalprice")).alias("r"))
    )
    w = Window.partitionBy("period").orderBy("r", "o_custkey")
    seg = per.withColumn("seg", F.ntile(4).over(w))
    a = seg.filter(F.col("period") == "A").select(
        F.col("o_custkey").alias("ck"), F.col("seg").alias("seg_a")
    )
    b = seg.filter(F.col("period") == "B").select(
        F.col("o_custkey").alias("ck"), F.col("seg").alias("seg_b")
    )
    return (
        a.join(b, "ck", "full_outer")
        .groupBy(
            F.coalesce(F.col("seg_a").cast("int"), F.lit(0)).alias(
                "seg_before"
            ),
            F.coalesce(F.col("seg_b").cast("int"), F.lit(0)).alias(
                "seg_after"
            ),
        )
        .agg(F.count("*").alias("n_customers"))
    )


_TRGM_QUERY = "smal widgett"  # deliberately misspelled probe


@query(
    "part_name_trigram_search",
    f"""
    WITH q AS (
      SELECT list_distinct(list_transform(
               generate_series(1, len('{_TRGM_QUERY}') - 2),
               i -> substr('{_TRGM_QUERY}', i, 3))) AS qt
    ),
    p AS (
      SELECT p_partkey, p_name,
             list_distinct(list_transform(
               generate_series(1, len(p_name) - 2),
               i -> substr(p_name, i, 3))) AS pt
      FROM part WHERE len(p_name) >= 3
    )
    SELECT p_partkey, p_name, sim, CAST(rk AS INTEGER) AS rk FROM (
      SELECT p.p_partkey, p.p_name,
             round(CAST(len(list_intersect(p.pt, q.qt)) AS DOUBLE)
                   / len(list_distinct(list_concat(p.pt, q.qt))), 6) AS sim,
             row_number() OVER (
               ORDER BY round(CAST(len(list_intersect(p.pt, q.qt)) AS DOUBLE)
                   / len(list_distinct(list_concat(p.pt, q.qt))), 6) DESC,
                 p.p_partkey) AS rk
      FROM p, q
    ) WHERE rk <= 10
    """,
)
def part_name_trigram_search(spark, sf_dir):
    """Fuzzy string search via character trigrams (the pg_trgm /
    Elasticsearch-ngram idiom): the misspelled probe '{_TRGM_QUERY}'
    still finds 'small widget' because trigram-set Jaccard degrades
    gracefully under edits, where equality and LIKE fail outright. Top-10
    by (similarity, key) over the dim table. Scale shape: the probe's
    trigram set is a 1-row broadcast; per-row trigram extraction is a JVM
    array transform; at catalog scale (fuzzy search over billions of
    names) the same trigrams become an inverted index — explode
    (trigram, key), equi-join the probe's trigrams, count matches per
    key (candidates ∝ posting lists, the dedup_containment_blocked
    plan) — this operator is the verify-stage math of that index."""
    grams = lambda c: F.array_distinct(  # noqa: E731
        F.expr(
            f"transform(sequence(1, length({c}) - 2), i -> substring({c}, i, 3))"
        )
    )
    q = (
        load(spark, sf_dir, "part")
        .limit(1)
        .select(F.lit(_TRGM_QUERY).alias("qs"))
        .select(grams("qs").alias("qt"))
    )
    p = (
        load(spark, sf_dir, "part")
        .filter(F.length("p_name") >= 3)
        .select("p_partkey", "p_name", grams("p_name").alias("pt"))
    )
    sim = F.round(
        F.size(F.array_intersect("pt", "qt")).cast("double")
        / F.size(F.array_distinct(F.concat("pt", "qt"))),
        6,
    )
    from .scale import _topk_ranked

    scored = (
        p.crossJoin(F.broadcast(q))  # |part| x 1 row
        .select("p_partkey", "p_name", sim.alias("sim"))
    )
    # top-10 via TakeOrderedAndProject + K-row rerank — never a global
    # row_number window over all |part| scored rows (VERDICT r7 item 4)
    return _topk_ranked(scored, 10, F.desc("sim"), F.col("p_partkey")).withColumn(
        "rk", F.col("rk").cast("int")
    )


@query(
    "orders_gmv_daily_7dma",
    """
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS day,
             count(*) AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
      FROM orders GROUP BY 1
    )
    SELECT CAST(day AS INTEGER) AS day,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(round(rev, 2) AS DOUBLE) AS revenue,
           (CAST(SUM(rev) OVER w * 10000 AS BIGINT)
            // SUM(n_orders) OVER w) / 10000.0 AS rev_per_order_7d,
           CAST(round(SUM(rev) OVER w, 2) AS DOUBLE) AS revenue_7d
    FROM daily
    WINDOW w AS (ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def orders_gmv_daily_7dma(spark, sf_dir):
    """Daily GMV with trailing-7-day totals and revenue-per-order — the
    topline smoothing every revenue dashboard applies (day-of-week noise
    vs trend). Exactness at the division: the 7-day mean is decimal-sum →
    integer 1e-4 units → floor-div by the window's order count → one
    shared IEEE division (the cohort-LTV hazard pattern; round() at a
    half boundary is never evaluated). The RANGE frame is over the
    integer day key, so gap days shrink the window's content, not its
    span. Shape: the fact table reduces to |days| rows in one
    partial-aggregating pass; every window runs on that summary —
    merge-stage-only at any scale."""
    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.datediff(
                F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
            ).alias("day")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(dec4("o_totalprice")).alias("rev"),
        )
    )
    w = Window.orderBy("day").rangeBetween(-6, 0)
    with7 = daily.withColumn("rev7", F.sum("rev").over(w)).withColumn(
        "n7", F.sum("n_orders").over(w)
    )
    return with7.select(
        F.col("day").cast("int").alias("day"),
        "n_orders",
        money(F.col("rev")).alias("revenue"),
        (
            F.expr("CAST(rev7 * 10000 AS BIGINT) DIV n7") / 10000.0
        ).alias("rev_per_order_7d"),
        money(F.col("rev7")).alias("revenue_7d"),
    )


_ASOF_TOL_US = 3_600_000_000  # 1 hour


@query(
    "join_asof_tolerance",
    f"""
    WITH e AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'error'),
    s AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'signup'),
    m AS (
      SELECT e.event_id, e.ts AS e_ts, s.event_id AS s_event_id, s.ts AS s_ts,
             row_number() OVER (PARTITION BY e.event_id
                                ORDER BY s.ts DESC, s.event_id DESC) AS rn
      FROM e JOIN s ON s.user_id = e.user_id AND s.ts <= e.ts
    )
    SELECT e.event_id,
           {duck_ts('e.ts')} AS error_ts,
           CASE WHEN date_diff('microseconds', m.s_ts, m.e_ts)
                     <= {_ASOF_TOL_US}
                THEN m.s_event_id END AS signup_event_id,
           CASE WHEN date_diff('microseconds', m.s_ts, m.e_ts)
                     <= {_ASOF_TOL_US}
                THEN date_diff('microseconds', m.s_ts, m.e_ts)
           END AS gap_us
    FROM e LEFT JOIN m ON m.event_id = e.event_id AND m.rn = 1
    """,
)
def join_asof_tolerance(spark, sf_dir):
    """As-of join with a TOLERANCE bound — the sensor-alignment /
    attribution parameter plain backward as-of lacks (pandas
    ``merge_asof(tolerance=...)``): each error matches its user's most
    recent prior signup ONLY if it happened within the last hour,
    otherwise the error keeps a NULL match (LEFT semantics — no error
    rows disappear, unlike the inner C11 form). The match is resolved
    BEFORE the tolerance test, so a too-old nearest match yields NULL
    rather than sliding to an even older one — pandas semantics, pinned
    by the oracle. The tolerance filter is a projection over the LEFT
    re-join; integer-µs gap math keeps NULL-vs-match cross-engine
    exact."""
    ev = load_events(spark, sf_dir)
    best = _asof_best(
        ev,
        "error",
        "signup",
        F.col("m_ts") <= F.col("ts"),
        F.desc("m_ts"),
        F.desc("m_id"),
    ).select("event_id", "m_id", "m_ts")
    gap = F.expr("timestampdiff(MICROSECOND, m_ts, ts)")
    return (
        ev.filter(F.col("event_type") == "error")
        .select("event_id", "ts")
        .join(best, "event_id", "left")
        .select(
            "event_id",
            ts_str("ts").alias("error_ts"),
            F.when(gap <= _ASOF_TOL_US, F.col("m_id")).alias("signup_event_id"),
            F.when(gap <= _ASOF_TOL_US, gap).alias("gap_us"),
        )
    )


def _format_roundtrip_dir(spark, name: str) -> str:
    """Warehouse scratch dir for a write-once format twin (the
    join_bucketed_colocated local-catalog pattern)."""
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse"))
    path = f"{wh.path or wh.geturl()}/{name}"
    shutil.rmtree(path, ignore_errors=True)
    return path


@query(
    "src_scan_csv_roundtrip",
    """
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(round(SUM(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_acctbal
    FROM customer GROUP BY c_mktsegment
    """,
)
def src_scan_csv_roundtrip(spark, sf_dir):
    """CSV source: the customer table written once as headered CSV and
    read back with an EXPLICIT schema (never inferSchema — schema
    inference is a full extra pass and type-guesses; a production CSV
    feed ships a contract), then the per-segment census. The oracle
    computes the same census from the parquet table, so the whole
    text round trip — including double serialization, which Spark writes
    with shortest-exact-roundtrip digits — is value-checked. Scale
    notes: CSV splits by line, so unlike the single-row-group parquet
    fixtures a big CSV scan parallelizes by byte ranges; it has NO
    column pruning or predicate pushdown (every query decodes every
    column) — which is exactly why the first job in every pipeline here
    converts text feeds to parquet."""
    src = load(spark, sf_dir, "customer")
    path = _format_roundtrip_dir(spark, "sg_csv_customer")
    src.write.option("header", True).csv(path)
    csv = (
        spark.read.option("header", True)
        .schema(src.schema)
        .csv(path)
    )
    return csv.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        money(F.sum(dec4("c_acctbal"))).alias("total_acctbal"),
    )


@query(
    "src_scan_jsonl_roundtrip",
    """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(SUM(length(text)) AS BIGINT) AS n_text_chars
    FROM documents GROUP BY lang
    """,
)
def src_scan_jsonl_roundtrip(spark, sf_dir):
    """JSON-lines source: the documents table (including multi-byte
    zh text — the escaping hazard) written once as NDJSON and read back
    with an explicit schema, then the per-language census with BOTH the
    stored char count and a recomputed one — a silent mojibake in the
    round trip would split them. Same scale story as CSV: line-split
    parallel scan, no pruning/pushdown, convert-to-parquet-first; NDJSON
    additionally tolerates schema drift (absent keys → NULL), which is
    why it's the standard landing format for event feeds like the
    reference's decrypted payloads."""
    src = load(spark, sf_dir, "documents")
    path = _format_roundtrip_dir(spark, "sg_jsonl_documents")
    src.write.json(path)
    js = spark.read.schema(src.schema).json(path)
    return js.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.sum(F.length("text")).cast("long").alias("n_text_chars"),
    )


@query(
    "src_scan_orc_roundtrip",
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                          * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem GROUP BY l_returnflag
    """,
)
def src_scan_orc_roundtrip(spark, sf_dir):
    """ORC source: the lineitem fact written once as ORC and read back,
    then the Q1-style decimal revenue census — proving the engine's
    second columnar format end to end (DuckDB never sees the ORC; the
    oracle recomputes from parquet, so the binary round trip is
    value-checked). ORC keeps what CSV/JSON lose: column pruning,
    predicate pushdown into stripe/row-group stats, and splittable
    compressed stripes — operationally interchangeable with parquet in
    every plan in this engine, which is the point of demonstrating it."""
    src = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_discount"
    )
    path = _format_roundtrip_dir(spark, "sg_orc_lineitem")
    src.write.orc(path)
    orc = spark.read.orc(path)
    return orc.groupBy("l_returnflag").agg(
        F.count("*").alias("n_items"),
        money(
            F.sum(dec4("l_extendedprice") * (1 - dec4("l_discount")))
        ).alias("revenue"),
    )


@query(
    "join_asof_forward",
    f"""
    WITH e AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
    ),
    p AS (
      SELECT event_id AS pid, user_id, ts AS pts
      FROM events WHERE event_type = 'purchase'
    ),
    cand AS (
      SELECT e.event_id, p.pid, p.pts,
             row_number() OVER (PARTITION BY e.event_id
                                ORDER BY p.pts, p.pid) AS rn
      FROM e JOIN p ON p.user_id = e.user_id AND p.pts >= e.ts
    )
    SELECT e.event_id,
           c.pid AS next_purchase_id,
           {duck_ts('e.ts')} AS error_ts,
           {duck_ts('c.pts')} AS purchase_ts
    FROM e LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c USING (event_id)
    """,
)
def join_asof_forward(spark, sf_dir):
    """FORWARD as-of join — the direction the C11 family was missing
    (backward / nearest / tolerance exist): each error event matched to
    the same user's NEXT purchase at-or-after it, the time-to-next-action
    / recovery-after-failure lookup (pandas ``merge_asof
    direction='forward'``). LEFT semantics keep errors with no later
    purchase (NULL match) — the population whose churn the number
    exists to measure. The oracle ranks with the identical window
    (DuckDB's native ASOF binds the backward direction only)."""
    ev = load_events(spark, sf_dir)
    best = _asof_best(
        ev,
        "error",
        "purchase",
        F.col("m_ts") >= F.col("ts"),
        F.col("m_ts"),
        F.col("m_id"),
    ).select("event_id", "m_id", "m_ts")
    return (
        ev.filter(F.col("event_type") == "error")
        .select("event_id", "ts")
        .join(best, "event_id", "left")
        .select(
            "event_id",
            F.col("m_id").alias("next_purchase_id"),
            ts_str("ts").alias("error_ts"),
            ts_str("m_ts").alias("purchase_ts"),
        )
    )


@query(
    "orders_repeat_purchase_curve",
    """
    WITH c AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY o_custkey
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_cust FROM c)
    SELECT k.k,
           CAST(count(c.o_custkey) AS BIGINT) AS n_customers_at_least_k,
           round(CAST(count(c.o_custkey) AS DOUBLE)
                 / (SELECT n_cust FROM tot), 6) AS share
    FROM (SELECT unnest(generate_series(1, 8)) AS k) k
    LEFT JOIN c ON c.n_orders >= k.k
    GROUP BY k.k
    """,
)
def orders_repeat_purchase_curve(spark, sf_dir):
    """Repeat-purchase survival curve: for k = 1..8, how many customers
    placed at least k orders, and their share of the base — the
    retention-economics table behind 'second-order conversion' targets
    (the k=1→2 drop is the number CRM lives on). One customer-grain
    aggregation; the k-threshold fan-out joins the 8-row literal spine
    against the |customers| counts (range predicate, broadcast spine) —
    at scale this is a conditional-aggregate over one scan, never 8
    scans. Integer counts; one division rounded once."""
    c = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
    )
    tot = c.agg(F.count("*").cast("long").alias("n_cust"))
    k = spark.range(1, 9).select(F.col("id").alias("k"))
    return (
        F.broadcast(k)
        .join(c, c.n_orders >= F.col("k"), "left")
        .groupBy("k")
        .agg(F.count("o_custkey").alias("n_customers_at_least_k"))
        .crossJoin(F.broadcast(tot))
        .select(
            "k",
            "n_customers_at_least_k",
            F.round(
                F.col("n_customers_at_least_k").cast("double")
                / F.col("n_cust"),
                6,
            ).alias("share"),
        )
    )


_FUZZ_TAU = 3  # max edit distance for a fuzzy name match
_FUZZ_BIN = _FUZZ_TAU + 1  # length-band width: |len diff|<=tau => adjacent bins


@query(
    "join_fuzzy_name_editdist",
    f"""
    WITH fnames AS (SELECT DISTINCT p_name AS nm FROM part)
    SELECT a.nm AS name_a, b.nm AS name_b,
           CAST(levenshtein(a.nm, b.nm) AS INTEGER) AS dist
    FROM fnames a JOIN fnames b ON a.nm < b.nm
    WHERE levenshtein(a.nm, b.nm) <= {_FUZZ_TAU}
    """,
)
def join_fuzzy_name_editdist(spark, sf_dir):
    """Fuzzy self-join on the part-name DICTIONARY (edit distance <=
    3) — the entity-resolution/data-cleaning primitive ("red widgett" ~
    "red widget") the equi-join family can't express. The oracle states
    the declarative theta semantics; the Spark plan is the scale form:
    dedupe to the name dictionary first (|distinct names| << |rows| —
    the resolution input a catalog actually has), then LENGTH-BAND
    blocking, which is provably LOSSLESS for Levenshtein (edit distance
    >= length difference, so bins of width tau+1 confine every true pair
    to adjacent bins): each left name probes 3 bin keys via an exploded
    equi-join — no nested-loop, no all-pairs — and only in-band pairs
    pay the O(len^2) verify. At 100 TB the band key composes with any
    attribute block (first-token, phonetic key) by concatenation; the
    verify stays JVM-side (builtin levenshtein, codegen'd)."""
    names = load(spark, sf_dir, "part").select(
        F.col("p_name").alias("nm")
    ).distinct()
    a = names.select(
        F.col("nm").alias("nm_a"),
        F.explode(
            F.array(
                (F.length("nm") / _FUZZ_BIN).cast("int") - 1,
                (F.length("nm") / _FUZZ_BIN).cast("int"),
                (F.length("nm") / _FUZZ_BIN).cast("int") + 1,
            )
        ).alias("probe_bin"),
    )
    b = names.select(
        F.col("nm").alias("nm_b"),
        (F.length("nm") / _FUZZ_BIN).cast("int").alias("bin_b"),
    )
    return (
        a.join(
            b,
            (F.col("probe_bin") == F.col("bin_b"))
            & (F.col("nm_a") < F.col("nm_b")),
        )
        .withColumn("dist", F.levenshtein("nm_a", "nm_b"))
        .filter(F.col("dist") <= _FUZZ_TAU)
        .select(
            F.col("nm_a").alias("name_a"),
            F.col("nm_b").alias("name_b"),
            F.col("dist").cast("int").alias("dist"),
        )
    )
