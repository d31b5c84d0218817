"""Query catalog: every declared operator as (Spark impl, DuckDB oracle) pair.

This backs ``__spark_entry__.py``'s driver contract: ``queries()`` exposes the
Spark callables, ``oracle_sql()`` the equivalent ANSI SQL. Column names and
value rounding are aligned on both sides because the correctness gate hashes
values under sorted column names.

Sections mirror SURVEY.md §2:
  ingest_*      — the reference's own operator semantics (chunk planning,
                  watermark math, config union) expressed as queries
  q*/top_*/...  — general relational coverage (joins, aggs, windows, json)
                  on the TPC-H-ish star schema; these are the bench headliners
  text_*/dedup_*/minhash_*/simhash_*  — [EXT] text analysis & dedup
  embedding_*/multimodal_*            — [EXT] similarity search & media

Float policy: every float aggregate is ``round(x, N)`` on BOTH sides so
engine-order summation noise can't break the value hash.

Integer-aggregate policy (learned the hard way in r1/r2): every oracle
aggregate over an INTEGER-typed expression MUST be wrapped in
``CAST(... AS BIGINT)``. DuckDB promotes ``sum(INTEGER)`` to HUGEINT, and a
pandas/arrow fetch renders HUGEINT as float64 — the driver's stringified
value hash then sees "56.0" vs Spark's "56" and mismatches even though the
values are identical. Only ``count(*)`` is safe without a cast: DuckDB
promotes ``sum`` over ANY integer type (INTEGER *and* BIGINT) to HUGEINT,
so every integer ``sum`` needs the explicit BIGINT cast.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigdataingestion_spark.functions.io import load_table
from bigdataingestion_spark.operators import (
    dedup,
    graph,
    multimodal,
    selection,
    similarity,
    temporal,
    text,
    vocab,
)

# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None -> driver runs a rows-only check
    headline: bool = False  # include in bench.py


CATALOG: dict[str, QuerySpec] = {}

_NORM_SQL = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"


def register(name: str, oracle: str | None, headline: bool = False):
    def deco(fn):
        CATALOG[name] = QuerySpec(fn=fn, oracle=oracle, headline=headline)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ===========================================================================
# ingest_* — reference parity semantics (SURVEY §2.3/2.5/2.7/2.9)
# ===========================================================================

CHUNK_LIMIT_YEARS = 2000  # orders rows/year at sf0.01 ≈ 2100 -> mixed above/below
CHUNK_LIMIT_MONTHS = 200


@register(
    "ingest_chunk_profile",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS y,
           CAST(quarter(o_orderdate) AS INT) AS q,
           CAST(month(o_orderdate) AS INT) AS m,
           CAST(day(o_orderdate) AS INT) AS d,
           count(*) AS cnt
    FROM orders GROUP BY 1, 2, 3, 4
    """,
    headline=True,
)
def ingest_chunk_profile(spark, sf_dir):
    """Single-pass chunk profile (replaces reference ING:205-247 repeated
    scans) over orders with o_orderdate as the watermark."""
    o = _t(spark, sf_dir, "orders")
    wm = F.col("o_orderdate")
    return o.groupBy(
        F.year(wm).cast("int").alias("y"),
        F.quarter(wm).cast("int").alias("q"),
        F.month(wm).cast("int").alias("m"),
        F.dayofmonth(wm).cast("int").alias("d"),
    ).agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "ingest_years_above_limit",
    f"""
    SELECT CAST(year(o_orderdate) AS INT) AS y, count(*) AS cnt
    FROM orders GROUP BY 1 HAVING count(*) > {CHUNK_LIMIT_YEARS}
    """,
)
def ingest_years_above_limit(spark, sf_dir):
    """GROUP BY year + HAVING above-limit (reference ING:319)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.year("o_orderdate").cast("int").alias("y"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > CHUNK_LIMIT_YEARS)
    )


@register(
    "ingest_months_below_limit",
    f"""
    SELECT CAST(month(o_orderdate) AS INT) AS m, count(*) AS cnt
    FROM orders WHERE year(o_orderdate) = 1995 AND quarter(o_orderdate) = 2
    GROUP BY 1 HAVING count(*) < {CHUNK_LIMIT_MONTHS}
    """,
)
def ingest_months_below_limit(spark, sf_dir):
    """GROUP BY month + HAVING below-limit within a year/quarter
    (reference ING:233-234)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter((F.year("o_orderdate") == 1995) & (F.quarter("o_orderdate") == 2))
        .groupBy(F.month("o_orderdate").cast("int").alias("m"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") < CHUNK_LIMIT_MONTHS)
    )


@register(
    "ingest_distinct_years",
    "SELECT DISTINCT CAST(year(l_shipdate) AS INT) AS y FROM lineitem",
)
def ingest_distinct_years(spark, sf_dir):
    """DISTINCT over a date-part expression (reference ING:209-211)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(F.year("l_shipdate").cast("int").alias("y")).distinct()


@register(
    "ingest_watermark_next",
    "SELECT max(ts) - INTERVAL 80 HOUR AS next_watermark FROM events",
)
def ingest_watermark_next(spark, sf_dir):
    """MAX(COALESCE(wm)) − 80h — the watermark update rule (ING:350-355)."""
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        (F.max(F.coalesce("ts")) - F.expr("INTERVAL 80 HOURS")).alias("next_watermark")
    )


@register(
    "ingest_watermark_filter_count",
    """
    SELECT count(*) AS cnt FROM events
    WHERE coalesce(ts) >= CAST('2024-01-25 00:00:00' AS TIMESTAMP)
    """,
)
def ingest_watermark_filter_count(spark, sf_dir):
    """The incremental-load predicate (reference S3/P8, ING:280)."""
    ev = _t(spark, sf_dir, "events")
    return ev.filter(
        F.coalesce("ts") >= F.lit("2024-01-25 00:00:00").cast("timestamp")
    ).agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "ingest_config_union",
    """
    SELECT * FROM (
      SELECT 'events min_ts' AS config_name, CAST(min(ts) AS VARCHAR) AS config_value FROM events
    ) UNION
    SELECT 'events max_ts' AS config_name, CAST(max(ts) AS VARCHAR) AS config_value FROM events
    """,
)
def ingest_config_union(spark, sf_dir):
    """UNION (distinct) of derived config rows — reference U1/U2 shape
    (ING:119-131)."""
    ev = _t(spark, sf_dir, "events")
    lo = ev.agg(
        F.lit("events min_ts").alias("config_name"),
        F.min("ts").cast("string").alias("config_value"),
    )
    hi = ev.agg(
        F.lit("events max_ts").alias("config_name"),
        F.max("ts").cast("string").alias("config_value"),
    )
    return lo.union(hi).distinct()


# ===========================================================================
# general relational coverage (joins / aggs / windows / json) — bench headliners
# ===========================================================================


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4) AS sum_qty,
           round(sum(l_extendedprice), 4) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_extendedprice), 6) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= CAST('2000-12-01' AS TIMESTAMP)
    GROUP BY l_returnflag, l_linestatus
    """,
    headline=True,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style pricing summary: the wide-agg benchmark staple."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(o_orderdate AS VARCHAR) AS orderdate,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < CAST('1998-03-15' AS TIMESTAMP)
      AND l_shipdate > CAST('1998-03-15' AS TIMESTAMP)
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    headline=True,
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3-style: selective dim filter + fact join + top-k.

    customer is a true dimension -> broadcast hint; orders is a fact table
    (NOT broadcastable at 100 TB) -> no hint, AQE picks broadcast locally and
    shuffle-hash at scale. orderBy+limit executes as TakeOrderedAndProject
    (no full sort shuffle)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            F.col("o_orderdate").cast("string").alias("orderdate"),
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    """
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA' AND year(o_orderdate) = 1997
    GROUP BY n_name
    """,
    headline=True,
)
def q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5-style multi-join: true dimensions broadcast; orders is a
    fact table (no hint — AQE decides: broadcast locally, shuffle at scale);
    lineitem never shuffles until the final low-cardinality aggregate."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1997)
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


@register(
    "top_customers_by_spend",
    """
    SELECT c_custkey, c_name, round(sum(o_totalprice), 4) AS total_spend,
           count(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
    ORDER BY total_spend DESC, c_custkey
    LIMIT 10
    """,
    headline=True,
)
def top_customers_by_spend(spark, sf_dir):
    """Fact-side aggregate THEN join the dim — aggregate first so the join
    input is |customers|, not |orders| (AQE picks the join strategy)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    spend = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 4).alias("total_spend"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return (
        spend.join(c, spend.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "total_spend", "n_orders")
        .orderBy(F.desc("total_spend"), F.col("c_custkey"))
        .limit(10)
    )


@register(
    "customer_top_order",
    """
    SELECT c_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
             ) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def customer_top_order(spark, sf_dir):
    """Window ranking: each customer's single largest order."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("c_custkey"), "o_orderkey", "o_totalprice"
        )
    )


@register(
    "customer_order_moving_avg",
    """
    SELECT o_custkey, o_orderkey,
           round(avg(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
           ), 4) AS moving_avg
    FROM orders
    """,
)
def customer_order_moving_avg(spark, sf_dir):
    """Window FRAME: trailing 3-order moving average per customer."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.avg("o_totalprice").over(w), 4).alias("moving_avg"),
    )


@register(
    "customer_spend_quartiles",
    """
    WITH spend AS (
      SELECT o_custkey, sum(o_totalprice) AS total_spend
      FROM orders GROUP BY o_custkey
    ),
    cuts AS (
      SELECT quantile_cont(total_spend, [0.25, 0.5, 0.75]) AS c FROM spend
    )
    SELECT quartile, count(*) AS n_customers,
           round(min(total_spend), 4) AS min_spend,
           round(max(total_spend), 4) AS max_spend
    FROM (
      SELECT total_spend,
             1 + CAST(total_spend > c[1] AS INT)
               + CAST(total_spend > c[2] AS INT)
               + CAST(total_spend > c[3] AS INT) AS quartile
      FROM spend, cuts
    ) GROUP BY quartile
    """,
)
def customer_spend_quartiles(spark, sf_dir):
    """Spend quartiles via exact percentile CUT POINTS, not a global ntile:
    the cut points are one 3-value `percentile` aggregate over the
    per-customer frame broadcast back for a comparison-based bucket
    assignment — no global SORT of the frame (the ntile shape moved every
    row through one sorting task). Residual scale note: Spark's exact
    `percentile` merges a value->count map into one final buffer, so its
    memory is O(distinct spend values); it is chosen here because it is
    bit-equal to DuckDB `quantile_cont` (the oracle contract). At 100 TB
    swap the cut-point aggregate for `approx_percentile` — the assignment
    logic and everything downstream is unchanged, only the cut values
    become sketch-approximate (and the exact-oracle pairing is relaxed,
    as events_approx_stats already demonstrates for sketches)."""
    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("total_spend"))
    cuts = spend.agg(
        F.expr("percentile(total_spend, array(0.25, 0.5, 0.75))").alias("c")
    )
    bucketed = spend.crossJoin(F.broadcast(cuts)).select(
        "total_spend",
        (
            F.lit(1)
            + (F.col("total_spend") > F.col("c")[0]).cast("int")
            + (F.col("total_spend") > F.col("c")[1]).cast("int")
            + (F.col("total_spend") > F.col("c")[2]).cast("int")
        ).alias("quartile"),
    )
    return bucketed.groupBy("quartile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.min("total_spend"), 4).alias("min_spend"),
        F.round(F.max("total_spend"), 4).alias("max_spend"),
    )


@register(
    "similar_part_names",
    """
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           levenshtein(a.p_name, b.p_name) AS dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
)
def similar_part_names(spark, sf_dir):
    """Edit-distance similarity join, blocked by brand (fuzzy entity
    matching — the record-linkage shape)."""
    p = _t(spark, sf_dir, "part")
    a = p.select(
        F.col("p_brand").alias("brand"),
        F.col("p_partkey").alias("id_a"),
        F.col("p_name").alias("name_a"),
    )
    b = p.select(
        F.col("p_brand").alias("brand"),
        F.col("p_partkey").alias("id_b"),
        F.col("p_name").alias("name_b"),
    )
    return (
        a.join(b, "brand")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= 4)
        .select("id_a", "id_b", "dist")
    )


@register(
    "user_sessions",
    """
    SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions FROM (
      SELECT user_id,
             CASE WHEN prev_us IS NULL
                       OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_session
      FROM (
        SELECT user_id, ts_us,
               lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_us
        FROM (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us FROM events)
      )
    ) GROUP BY user_id
    """,
    headline=True,
)
def user_sessions(spark, sf_dir):
    """Sessionization via lag(): a 30-minute inactivity gap starts a new
    session. One shuffle (window by user) + one aggregate.

    Oracle dtype contract: DuckDB promotes ``sum(INTEGER)`` to HUGEINT,
    which a pandas/arrow fetch renders as float64 ("56.0" vs Spark's "56"
    in a stringified hash) — so the aggregate is CAST to BIGINT. This was
    the sole cause of the r1/r2 driver hash mismatch (the closest gap to
    the 30-min boundary is ~886 ms at sf0.01, so no ns-vs-us precision
    effect can flip a session count). The epoch-us comparison
    (``epoch_ns(ts)//1000``; floor division == truncation for the
    positive, post-1970 epochs in all fixtures) is kept as precision
    hygiene.
    """
    # cast: unix_micros rejects TIMESTAMP_NTZ (the parquet dtype since the
    # fixtures moved to us-precision); LTZ cast is wall-clock-preserving
    # under the session's pinned UTC zone, and a no-op on LTZ input
    ev = _t(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return (
        ev.withColumn("prev_us", F.lag("ts_us").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev_us").isNull()
                | (F.col("ts_us") - F.col("prev_us") > F.lit(1800000000)),
                1,
            ).otherwise(0),
        )
        .groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"))
    )


@register(
    "user_funnel_set_ops",
    """
    SELECT 'click_and_purchase' AS cohort, count(*) AS n_users FROM (
      SELECT user_id FROM events WHERE event_type = 'click'
      INTERSECT
      SELECT user_id FROM events WHERE event_type = 'purchase'
    )
    UNION ALL
    SELECT 'view_never_purchase' AS cohort, count(*) AS n_users FROM (
      SELECT user_id FROM events WHERE event_type = 'view'
      EXCEPT
      SELECT user_id FROM events WHERE event_type = 'purchase'
    )
    """,
)
def user_funnel_set_ops(spark, sf_dir):
    """INTERSECT / EXCEPT set operations: funnel cohorts (clicked AND
    purchased; viewed but never purchased)."""
    ev = _t(spark, sf_dir, "events")

    def users(et):
        return ev.filter(F.col("event_type") == et).select("user_id")

    both = users("click").intersect(users("purchase"))
    # subtract = EXCEPT DISTINCT; exceptAll would keep multiplicity (a user
    # with more views than purchases would wrongly survive)
    lost = users("view").subtract(users("purchase"))
    a = both.agg(
        F.lit("click_and_purchase").alias("cohort"),
        F.count(F.lit(1)).alias("n_users"),
    )
    b = lost.agg(
        F.lit("view_never_purchase").alias("cohort"),
        F.count(F.lit(1)).alias("n_users"),
    )
    return a.unionByName(b)


@register(
    "user_sessions_native",
    """
    SELECT user_id, count(*) AS n_sessions,
           CAST(sum(n_events) AS BIGINT) AS total_events FROM (
      SELECT user_id, session_id, count(*) AS n_events FROM (
        SELECT user_id,
               sum(new_session) OVER (
                 PARTITION BY user_id ORDER BY ts_us, event_id
               ) AS session_id
        FROM (
          SELECT user_id, ts_us, event_id,
                 CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL
                           OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
                              > 1800000000
                      THEN 1 ELSE 0 END AS new_session
          FROM (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us FROM events)
        )
      ) GROUP BY user_id, session_id
    ) GROUP BY user_id
    """,
)
def user_sessions_native(spark, sf_dir):
    """Spark's built-in ``session_window`` (gap-based session assignment in
    one aggregate) validated against a first-principles lag+cumsum oracle —
    per user: session count and total events.

    Boundary semantics (empirically verified on Spark 4.1): session_window
    merges an event at EXACTLY start+gap into the session, so "new session"
    is strictly ``gap > 30min`` — same rule as the lag() oracle. The oracle
    CASTs ``sum(n_events)`` to BIGINT: DuckDB's HUGEINT promotion becomes
    float64 through a pandas fetch and breaks stringified value hashes
    (the r1/r2 driver mismatch); see user_sessions for the full account.
    """
    ev = _t(spark, sf_dir, "events")
    per_session = ev.groupBy(
        F.session_window("ts", "30 minutes"), F.col("user_id")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("total_events"),
    )


@register(
    "event_type_daily",
    """
    SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           count(*) AS cnt, round(sum(value), 4) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def event_type_daily(spark, sf_dir):
    """Multi-key aggregate over a derived date — the daily-rollup shape."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.col("ts").cast("date").cast("string").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


@register(
    "streaming_hourly_counts",
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS cnt
    FROM events GROUP BY 1, 2
    """,
)
def streaming_hourly_counts(spark, sf_dir):
    """A REAL Structured Streaming execution inside the correctness gate:
    watermarked tumbling-hour counts over the events table, run as an
    availableNow micro-batch stream to an in-memory sink, compared against
    the batch-SQL oracle. Exercises readStream -> withWatermark -> windowed
    agg -> writeStream end to end."""
    import tempfile
    import uuid

    from bigdataingestion_spark.streaming.ingest import stream_windowed_counts

    name = f"stream_gate_{uuid.uuid4().hex[:8]}"
    src = os.path.join(sf_dir, "events.parquet")
    q = stream_windowed_counts(
        spark,
        src,
        checkpoint_dir=tempfile.mkdtemp(prefix="bdi_ck_"),
        ts_col="ts",
        key_col="event_type",
        window="1 hour",
        queryName=name,
    )
    q.awaitTermination(300)
    # update-mode sink: a window re-emits on change; counts are monotonic so
    # max = latest state per (window, key)
    return (
        spark.table(name)
        .groupBy("window_start", "event_type")
        .agg(F.max("cnt").alias("cnt"))
    )


@register(
    "streaming_user_sessions",
    """
    SELECT user_id, count(*) AS n_sessions,
           CAST(sum(n_events) AS BIGINT) AS total_events FROM (
      SELECT user_id, session_id, count(*) AS n_events FROM (
        SELECT user_id,
               sum(new_session) OVER (
                 PARTITION BY user_id ORDER BY ts_us, event_id
               ) AS session_id
        FROM (
          SELECT user_id, ts_us, event_id,
                 CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL
                           OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
                              > 1800000000
                      THEN 1 ELSE 0 END AS new_session
          FROM (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us FROM events)
        )
      ) GROUP BY user_id, session_id
    ) GROUP BY user_id
    """,
)
def streaming_user_sessions(spark, sf_dir):
    """REAL Structured Streaming stateful sessionization inside the gate:
    readStream -> session_window(30 min) -> complete-mode memory sink (the
    only mode Spark allows for merging session windows in a catch-up run;
    see streaming.ingest.stream_session_windows), then a batch rollup to
    (user, n_sessions, total_events) — the streaming counterpart of
    ``user_sessions_native``, validated against the SAME first-principles
    lag+cumsum oracle. Completes the session trilogy: lag-window batch,
    native-window batch, native-window streaming."""
    import tempfile
    import uuid

    from bigdataingestion_spark.streaming.ingest import stream_session_windows

    name = f"sess_gate_{uuid.uuid4().hex[:8]}"
    src = os.path.join(sf_dir, "events.parquet")
    q = stream_session_windows(
        spark,
        src,
        checkpoint_dir=tempfile.mkdtemp(prefix="bdi_ck_"),
        ts_col="ts",
        key_col="user_id",
        gap="30 minutes",
        queryName=name,
    )
    q.awaitTermination(300)
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("total_events"),
        )
    )


@register(
    "streaming_click_attribution",
    """
    WITH c AS (
      SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           CAST(c.ts_us AS BIGINT) AS click_us,
           CAST(p.ts_us AS BIGINT) AS purchase_us
    FROM c JOIN p
      ON c.user_id = p.user_id
     AND p.ts_us >= c.ts_us
     AND p.ts_us <= c.ts_us + 1800000000
    """,
)
def streaming_click_attribution(spark, sf_dir):
    """REAL stream-stream interval join inside the gate: two watermarked
    streams over the events table (clicks and purchases), inner-joined on
    user with purchase time bounded to [click, click + 30 min], run as an
    availableNow micro-batch stream to an in-memory sink
    (streaming.ingest.stream_stream_join) and compared against the batch
    interval-join oracle. Timestamps compared as epoch micros on BOTH
    sides (nanos parquet floors to micros identically in each engine)."""
    import tempfile
    import uuid

    from bigdataingestion_spark.streaming.ingest import stream_stream_join

    name = f"attr_gate_{uuid.uuid4().hex[:8]}"
    src = os.path.join(sf_dir, "events.parquet")
    q = stream_stream_join(
        spark,
        src,
        checkpoint_dir=tempfile.mkdtemp(prefix="bdi_ck_"),
        within="30 minutes",
        queryName=name,
    )
    q.awaitTermination(300)
    return spark.table(name).select(
        "user_id",
        "click_id",
        "purchase_id",
        F.unix_micros("click_ts").alias("click_us"),
        F.unix_micros("purchase_ts").alias("purchase_us"),
    )


@register(
    "streaming_cdc_latest_state",
    """
    SELECT user_id, ts AS last_ts, event_id AS last_event_id,
           event_type AS last_event_type, value AS last_value
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC
      ) AS rn FROM events
    ) WHERE rn = 1
    """,
)
def streaming_cdc_latest_state(spark, sf_dir):
    """REAL streaming CDC upsert inside the gate: the events table staged
    as a 4-file change-log landing zone, streamed one file per micro-batch
    through foreachBatch MERGE (streaming.ingest.stream_cdc_upsert,
    latest-wins by (ts, event_id)) into a txlog table; the final
    table state must equal the batch latest-state oracle — same output
    schema and oracle as ``events_latest_state``, proving the streaming
    merge converges to the batch answer regardless of micro-batch
    arrival order."""
    import tempfile

    from bigdataingestion_spark.sinks.txlog import TxLogTable
    from bigdataingestion_spark.streaming.ingest import stream_cdc_upsert

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value", "ts"
    )
    work = tempfile.mkdtemp(prefix="bdi_cdc_")
    landing = os.path.join(work, "landing")
    target = os.path.join(work, "state")
    ev.repartition(4).write.parquet(landing)
    q = stream_cdc_upsert(
        spark,
        landing,
        target,
        checkpoint_dir=os.path.join(work, "ckpt"),
        keys=["user_id"],
        order_cols=["ts", "event_id"],
    )
    q.awaitTermination(300)
    return TxLogTable(target).read(spark).select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


@register(
    "streaming_nation_purchases",
    """
    SELECT n.n_name, count(*) AS n_purchases,
           round(sum(e.value), 4) AS total_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE e.event_type = 'purchase'
    GROUP BY n.n_name
    """,
)
def streaming_nation_purchases(spark, sf_dir):
    """REAL stream-static enrichment inside the gate: purchase events
    streamed (availableNow) and joined per micro-batch against the
    broadcast customer->nation dimension chain
    (streaming.ingest.stream_static_enrich), then a batch rollup of the
    enriched sink to purchases per nation — the lookup/enrichment stage
    of an event pipeline, validated against the batch three-way-join
    oracle. Completes the streaming join coverage: stream-stream
    (streaming_click_attribution) and stream-static (here)."""
    import uuid

    from bigdataingestion_spark.streaming.ingest import stream_static_enrich

    dim = (
        _t(spark, sf_dir, "customer")
        .join(
            _t(spark, sf_dir, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "n_name")
    )
    name = f"enrich_gate_{uuid.uuid4().hex[:8]}"
    q = stream_static_enrich(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        dim,
        on=F.col("user_id") == F.col("c_custkey"),
        select_cols=[F.col("n_name"), F.col("value")],
        row_filter=F.col("event_type") == "purchase",
        queryName=name,
    )
    q.awaitTermination(300)
    return (
        spark.table(name)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


@register(
    "events_approx_stats",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           TRUE AS hll_ok, TRUE AS p50_ok, TRUE AS p99_ok
    FROM events GROUP BY event_type
    """,
)
def events_approx_stats(spark, sf_dir):
    """Approximate aggregates — the sketch path at 100 TB where exact
    count-distinct/quantiles don't fit: HLL++ distinct users and
    approximate quantiles per event type.

    Sketch outputs are engine-specific, so raw approx values can never
    hash-match a SQL oracle. Deterministic-bounds contract instead: the
    query returns the EXACT distinct count (oracle-reproducible) plus
    booleans asserting each sketch landed within tolerance of its exact
    counterpart (HLL++ rsd=0.02 within 5%; approx percentiles within
    5% rel + 0.01 abs of exact interpolated percentiles). The oracle pins
    the exact values and expects every bound to hold (TRUE literals) — a
    hard gate row instead of the previous permanent rows-only 'no_oracle'.
    The exact aggregates here are the verification harness; at 100 TB you
    would ship only the sketch column."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("_hll"),
        F.percentile_approx("value", 0.5, 10_000).alias("_ap50"),
        F.percentile_approx("value", 0.99, 10_000).alias("_ap99"),
        F.expr("percentile(value, 0.5)").alias("_ep50"),
        F.expr("percentile(value, 0.99)").alias("_ep99"),
    )

    def within(approx, exact):
        return F.abs(F.col(approx) - F.col(exact)) <= (
            F.lit(0.05) * F.abs(F.col(exact)) + F.lit(0.01)
        )

    return agg.select(
        "event_type",
        "n_users",
        (
            # rel bound + absolute floor: a type with few distinct users
            # must not fail the hard gate on a +-1-2 HLL error
            F.abs(F.col("_hll") - F.col("n_users"))
            <= F.greatest(F.lit(2.0), F.lit(0.05) * F.col("n_users"))
        ).alias("hll_ok"),
        within("_ap50", "_ep50").alias("p50_ok"),
        within("_ap99", "_ep99").alias("p99_ok"),
    )


@register(
    "events_props_map",
    """
    SELECT key, round(avg(CAST(json_extract_string(props, '$.' || key) AS BIGINT)), 6) AS avg_val,
           count(*) AS cnt
    FROM (SELECT props, unnest(json_keys(props)) AS key FROM events)
    GROUP BY key
    """,
)
def events_props_map(spark, sf_dir):
    """Semi-structured -> MapType: from_json the props column to
    map<string,bigint>, explode entries, aggregate per key (schema-free
    JSON property profiling)."""
    ev = _t(spark, sf_dir, "events")
    entries = ev.select(
        F.explode(F.from_json("props", "map<string,bigint>")).alias("key", "val")
    )
    return entries.groupBy("key").agg(
        F.round(F.avg("val"), 6).alias("avg_val"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "events_json_avg",
    """
    SELECT event_type,
           round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) AS avg_k
    FROM events GROUP BY event_type
    """,
)
def events_json_avg(spark, sf_dir):
    """JSON property extraction (semi-structured props column)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(
            F.avg(F.get_json_object("props", "$.k").cast("long")), 6
        ).alias("avg_k")
    )


@register(
    "orders_with_late_lineitems",
    """
    SELECT count(*) AS cnt FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 90 DAY
    )
    """,
)
def orders_with_late_lineitems(spark, sf_dir):
    """LEFT SEMI join (EXISTS): orders having a lineitem shipped >90 days
    after the order date."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    matched = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return matched.agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "customers_without_orders",
    """
    SELECT count(*) AS cnt FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def customers_without_orders(spark, sf_dir):
    """LEFT ANTI join (NOT EXISTS)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").agg(
        F.count(F.lit(1)).alias("cnt")
    )


@register(
    "lineitem_rollup_by_year_month",
    """
    SELECT CAST(year(l_shipdate) AS INT) AS y, CAST(month(l_shipdate) AS INT) AS m,
           count(*) AS cnt, round(sum(l_quantity), 4) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (1, 2)
    """,
)
def lineitem_rollup_by_year_month(spark, sf_dir):
    """ROLLUP hierarchy totals (year, month, grand total in one pass)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup(
        F.year("l_shipdate").cast("int").alias("y"),
        F.month("l_shipdate").cast("int").alias("m"),
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
    )


@register(
    "events_value_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.95), 6) AS p95,
           count(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
)
def events_value_percentiles(spark, sf_dir):
    """Exact interpolated percentiles + count distinct per group.

    Computed as TWO aggregates joined on the group key, not one: a single
    agg mixing percentile with count(DISTINCT user_id) plans the distinct
    rewrite as a pre-aggregate keyed (event_type, user_id) that builds and
    merges a percentile value-map buffer PER USER (r14 plan audit: 4-level
    ObjectHashAggregate, ~7 s at sf0.1 vs ~0.6 s split). The join side is
    |event_type| rows — broadcast, no extra shuffle on the fact side.
    NULL-SAFE equality (r15, advisor note): both aggregates emit one row
    for a NULL event_type group; a null-rejecting inner join would
    silently drop it where the old single groupBy (and the oracle) keep
    it. The fixture has no NULL event_type, but the query must not bake
    that in."""
    ev = _t(spark, sf_dir, "events")
    pct = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
    )
    users = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users")
    )
    return pct.join(
        users, pct["event_type"].eqNullSafe(users["event_type"])
    ).select(
        pct["event_type"], "p50", "p95", "n_users"
    )


@register(
    "orders_status_pivot",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS y,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p,
           round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 4) AS total_f
    FROM orders GROUP BY 1
    """,
)
def orders_status_pivot(spark, sf_dir):
    """Pivot-style conditional aggregation (wide status columns per year)."""
    o = _t(spark, sf_dir, "orders")

    def cnt(status):
        return F.count(F.when(F.col("o_orderstatus") == status, 1))

    return o.groupBy(F.year("o_orderdate").cast("int").alias("y")).agg(
        cnt("F").alias("n_f"),
        cnt("O").alias("n_o"),
        cnt("P").alias("n_p"),
        F.round(
            F.sum(F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))), 4
        ).alias("total_f"),
    )


@register(
    "orders_status_unpivot",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS y,
           o_orderstatus AS status,
           count(*) AS n
    FROM orders WHERE o_orderstatus IN ('F', 'O', 'P')
    GROUP BY 1, 2
    """,
)
def orders_status_unpivot(spark, sf_dir):
    """Unpivot: melt the wide status columns back to (year, status, n) rows
    — pivot's inverse via ``DataFrame.unpivot``. Oracle is the direct
    long-form aggregate, proving pivot->unpivot round-trips."""
    wide = orders_status_pivot(spark, sf_dir)
    return (
        wide.unpivot(
            ids=["y"],
            values=["n_f", "n_o", "n_p"],
            variableColumnName="status_col",
            valueColumnName="n",
        )
        .withColumn(
            "status", F.upper(F.substring_index("status_col", "_", -1))
        )
        .filter(F.col("n") > 0)
        .select("y", "status", "n")
    )


@register(
    "top_parts_by_revenue",
    """
    SELECT p_partkey, p_name, p_brand,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_partkey, p_name, p_brand
    ORDER BY revenue DESC, p_partkey
    LIMIT 20
    """,
)
def top_parts_by_revenue(spark, sf_dir):
    """Fact-dim join + top-k over the part dimension (AQE join strategy)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_partkey", "p_name", "p_brand")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.col("p_partkey"))
        .limit(20)
    )


@register(
    "small_quantity_revenue",
    """
    SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#13'
      AND l_quantity < (
        SELECT 0.2 * avg(l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = p_partkey
      )
    """,
)
def small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17-style correlated scalar subquery (small-quantity-order
    revenue). The DataFrame form decorrelates explicitly: per-part avg as an
    aggregate joined back — exactly the plan a correlated subquery should
    lower to; the oracle keeps the correlated form."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
    part_avg = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("qty_threshold")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(part_avg, on="l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"))
    )


@register(
    "ingest_next_surrogate_key",
    "SELECT coalesce(max(o_orderkey), 0) + 1 AS next_id FROM orders",
)
def ingest_next_surrogate_key(spark, sf_dir):
    """MAX(id)+1 surrogate key generation (reference ING:368-372)."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        (F.coalesce(F.max("o_orderkey"), F.lit(0)) + 1).alias("next_id")
    )


# ===========================================================================
# [EXT] text analysis
# ===========================================================================

_WC_SQL = (
    "CASE WHEN length(trim(text)) = 0 THEN 0 "
    "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END"
)


@register(
    "text_quality_stats",
    f"""
    SELECT doc_id,
           length(text) AS char_count,
           CAST({_WC_SQL} AS BIGINT) AS word_count,
           CAST(len(regexp_extract_all(text, '[a-zA-Z0-9_]+|[^a-zA-Z0-9_\\s]')) AS BIGINT) AS tok_count,
           round(CASE WHEN length(text) = 0 THEN 0.0
                 ELSE length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) * 1.0 / length(text) END, 6) AS punct_ratio,
           round(CASE WHEN {_WC_SQL} = 0 THEN 0.0
                 ELSE length(regexp_replace(text, '\\s+', '', 'g')) * 1.0 / ({_WC_SQL}) END, 6) AS avg_word_len
    FROM documents
    """,
    headline=True,
)
def text_quality_stats(spark, sf_dir):
    return text.quality_stats(_t(spark, sf_dir, "documents"))


_MARKER_SQL = {
    lang: f"len(regexp_extract_all(lower(text), '\\b({'|'.join(m)})\\b'))"
    for lang, m in text.LANG_MARKERS.items()
}


@register(
    "lang_histogram",
    f"""
    SELECT lang_guess, count(*) AS n_docs FROM (
      SELECT CASE
        WHEN greatest({_MARKER_SQL['en']}, {_MARKER_SQL['de']}, {_MARKER_SQL['es']}, {_MARKER_SQL['fr']}) = 0 THEN 'und'
        WHEN {_MARKER_SQL['en']} >= greatest({_MARKER_SQL['de']}, {_MARKER_SQL['es']}, {_MARKER_SQL['fr']}) THEN 'en'
        WHEN {_MARKER_SQL['de']} >= greatest({_MARKER_SQL['es']}, {_MARKER_SQL['fr']}) THEN 'de'
        WHEN {_MARKER_SQL['es']} >= {_MARKER_SQL['fr']} THEN 'es'
        ELSE 'fr' END AS lang_guess
      FROM documents
    ) GROUP BY 1
    """,
)
def lang_histogram(spark, sf_dir):
    return text.language_histogram(_t(spark, sf_dir, "documents"))


@register(
    "doc_fingerprints",
    """
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprints(spark, sf_dir):
    return text.fingerprints(_t(spark, sf_dir, "documents"))


# Shared dedup+quality survivor CTEs — ONE constant for the composed
# pipeline oracles (training_data_pipeline and its DSIR extension), so
# the gate thresholds and fingerprint math cannot drift between them.
_PIPE_SURVIVOR_CTES = f"""
    scored AS (
      SELECT doc_id, lang, source, text,
             CAST({_WC_SQL} AS BIGINT) AS word_count,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) * 1.0 / length(text) END AS punct_ratio,
             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
      FROM documents
    ),
    gated AS (
      SELECT * FROM scored WHERE word_count >= 20 AND punct_ratio < 0.2
    ),
    deduped AS (
      SELECT min(doc_id) AS doc_id FROM gated GROUP BY fingerprint
    ),
    survivors AS (
      SELECT g.* FROM gated g JOIN deduped d ON g.doc_id = d.doc_id
    )
"""


@register(
    "training_data_pipeline",
    f"""
    WITH {_PIPE_SURVIVOR_CTES}
    SELECT doc_id, lang, word_count FROM survivors
    """,
    headline=True,
)
def training_data_pipeline(spark, sf_dir):
    """The composed LLM-data pipeline: quality gate -> fingerprint dedup ->
    surviving docs. One narrow scoring pass, one dedup shuffle.

    The gated frame feeds both the dedup aggregate and the survivor
    join-back; the cache barrier makes the regex/md5 scoring pass run ONCE
    (uncached, Catalyst plans it once per consumer — measured ~2x the
    scoring cost). The cached rows are narrow (no text column)."""
    from bigdataingestion_spark.caching import cache_tracked

    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    scored = docs.select(
        "doc_id",
        "lang",
        text.word_count(t).cast("long").alias("word_count"),
        text.punct_ratio(t).alias("punct_ratio"),
        text.fingerprint(t).alias("fingerprint"),
    )
    gated = cache_tracked(
        scored.filter(
            (F.col("word_count") >= 20) & (F.col("punct_ratio") < 0.2)
        )
    )
    keep = gated.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    return gated.join(keep.select("doc_id"), "doc_id", "left_semi").select(
        "doc_id", "lang", "word_count"
    )


@register(
    "docs_chunked",
    f"""
    WITH words AS (
      SELECT doc_id, regexp_split_to_array({_NORM_SQL}, ' ') AS w
      FROM documents
      WHERE length({_NORM_SQL}) > 0
    ),
    chunks AS (
      SELECT doc_id, w,
             unnest(range(0, CAST(floor((greatest(len(w) - 64, 0) + 47) / 48) AS INT) + 1)) AS chunk_idx
      FROM words
    )
    SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           array_to_string(w[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ') AS chunk_text,
           least(len(w) - chunk_idx * 48, 64) AS chunk_words
    FROM chunks
    """,
)
def docs_chunked(spark, sf_dir):
    """Context-window chunking: 64-word windows with stride 48 (16-word
    overlap) — the training-data preprocessing pass."""
    return text.chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_words=64, stride=48
    )


@register(
    "docs_bigram_quality",
    f"""
    WITH words AS (
      SELECT doc_id, regexp_split_to_array({_NORM_SQL}, ' ') AS w
      FROM documents WHERE len(regexp_split_to_array({_NORM_SQL}, ' ')) >= 2
    ),
    uni AS (SELECT unnest(w) AS word FROM words),
    c1 AS (SELECT word, count(*) AS c1 FROM uni GROUP BY word),
    v AS (SELECT count(DISTINCT word) AS vocab FROM uni),
    bg AS (
      SELECT doc_id, unnest([array_to_string(w[i:i+1], ' ') FOR i IN range(1, len(w))]) AS bigram
      FROM words
    ),
    c2 AS (SELECT bigram, count(*) AS c2 FROM bg GROUP BY bigram)
    SELECT bg.doc_id,
           round(avg(ln((c2.c2 + 1) * 1.0 / (c1.c1 + v.vocab))), 4) AS lm_score,
           count(*) AS n_bigrams
    FROM bg
    JOIN c2 USING (bigram)
    JOIN c1 ON split_part(bigram, ' ', 1) = c1.word
    CROSS JOIN v
    GROUP BY bg.doc_id
    """,
)
def docs_bigram_quality(spark, sf_dir):
    """Add-one-smoothed corpus bigram-LM score per document (statistical
    gibberish filter)."""
    return text.bigram_quality_scores(_t(spark, sf_dir, "documents"))


# ===========================================================================
# [EXT] dedup
# ===========================================================================


@register(
    "dedup_exact_survivors",
    "SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)",
)
def dedup_exact_survivors(spark, sf_dir):
    """Exact dedup keeping the lowest id per identical text."""
    return dedup.dedup_exact(_t(spark, sf_dir, "documents")).select("doc_id")


@register(
    "dedup_exact_groups",
    """
    SELECT md5(props) AS text_hash, count(*) AS n_dups, min(event_id) AS keep_doc_id
    FROM events GROUP BY 1 HAVING count(*) > 1
    """,
)
def dedup_exact_groups(spark, sf_dir):
    """Duplicate-value groups over the events props column (documents has no
    exact dups in the fixtures; props values repeat heavily)."""
    ev = _t(spark, sf_dir, "events").withColumnRenamed("event_id", "doc_id")
    return dedup.exact_dup_groups(ev, text_col="props")


_SHINGLE_CTE = f"""
    WITH words AS (
      SELECT doc_id, regexp_split_to_array({_NORM_SQL}, ' ') AS w FROM documents
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct(
               [array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)]
             )) AS shingle
      FROM words WHERE len(w) >= 3
    )
"""


@register(
    "ngram_jaccard_pairs",
    _SHINGLE_CTE
    + """
    , kept AS (
      SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df FROM sh
      ) WHERE df <= 1000
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(i * 1.0 / (sa.n_sh + sb.n_sh - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE i * 1.0 / (sa.n_sh + sb.n_sh - i) >= 0.3
    """,
    headline=True,
)
def ngram_jaccard_pairs(spark, sf_dir):
    """Exact 3-gram Jaccard near-dup join at threshold 0.3, hot shingles
    (document frequency > 1000) dropped before the self-join — the fixtures'
    max shingle df is 25 at sf0.1, so the cap is inert on test data while
    bounding the worst case at scale."""
    return dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.3, n=3, max_shingle_df=1000
    )


def _minhash_sig_sql(num_hashes: int) -> str:
    M = dedup.MINHASH_PRIME
    sig_cols = ",\n           ".join(
        f"min(({a} * h + {b}) % {M}) AS sig_{i}"
        for i, (a, b) in enumerate(dedup.minhash_params(num_hashes))
    )
    return (
        _SHINGLE_CTE
        + f"""
    , hashed AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {M} AS h
      FROM sh
    )
    SELECT doc_id, {sig_cols}
    FROM hashed GROUP BY doc_id
    """
    )


@register("minhash_signatures", _minhash_sig_sql(16))
def minhash_signatures(spark, sf_dir):
    """Portable 16-hash MinHash signatures (md5-derived, engine-exact)."""
    return dedup.minhash_signatures(_t(spark, sf_dir, "documents"), num_hashes=16)


def _minhash_lsh_sql(num_hashes: int = 16, bands: int = 4) -> str:
    r = num_hashes // bands
    sig_cols = [f"sig_{i}" for i in range(num_hashes)]
    band_rows = ", ".join(
        f"({b}, md5(concat_ws(',', {', '.join(sig_cols[b * r:(b + 1) * r])})))"
        for b in range(bands)
    )
    matches = " + ".join(
        f"CASE WHEN sa.{c} = sb.{c} THEN 1 ELSE 0 END" for c in sig_cols
    )
    return f"""
    WITH sig AS ({_minhash_sig_sql(num_hashes)}),
    buckets AS (
      SELECT doc_id, b.band, b.key
      FROM sig, LATERAL (VALUES {band_rows}) AS b(band, key)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, round(({matches}) / {num_hashes}.0, 6) AS est_jaccard
    FROM cand
    JOIN sig sa ON cand.id_a = sa.doc_id
    JOIN sig sb ON cand.id_b = sb.doc_id
    """


@register("minhash_lsh_pairs", _minhash_lsh_sql(), headline=True)
def minhash_lsh_pairs(spark, sf_dir):
    """Banded MinHash-LSH candidate pairs (4 bands x 4 rows), oracle-exact:
    the DuckDB twin recomputes signatures, banding keys, and estimated
    similarity bit-for-bit."""
    return dedup.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), num_hashes=16, bands=4
    )


def _simhash_sql() -> str:
    hi_bits = " + ".join(
        f"CASE WHEN b{j} > 0 THEN {1 << (j - 32)} ELSE 0 END" for j in range(32, 64)
    )
    lo_bits = " + ".join(
        f"CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(32)
    )
    bit_sums = ",\n             ".join(
        f"sum(CASE WHEN (({'hi' if j >= 32 else 'lo'} >> {j % 32}) & 1) = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(64)
    )
    return f"""
    WITH wordsets AS (
      SELECT doc_id, unnest(list_distinct(regexp_split_to_array({_NORM_SQL}, ' '))) AS word
      FROM documents
    ),
    hashes AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(word), 1, 16))::UBIGINT // 4294967296 AS BIGINT) AS hi,
             CAST(('0x' || substr(md5(word), 1, 16))::UBIGINT % 4294967296 AS BIGINT) AS lo
      FROM wordsets WHERE word <> ''
    ),
    sums AS (
      SELECT doc_id,
             {bit_sums}
      FROM hashes GROUP BY doc_id
    )
    SELECT doc_id, CAST({hi_bits} AS BIGINT) AS simhash_hi, CAST({lo_bits} AS BIGINT) AS simhash_lo
    FROM sums
    """


@register("simhash64", _simhash_sql())
def simhash64(spark, sf_dir):
    """64-bit SimHash per document (portable md5-derived word hashes)."""
    return dedup.simhash64(_t(spark, sf_dir, "documents"))


@register(
    "asof_last_purchase",
    """
    WITH p AS (
      SELECT user_id, ts, max(event_id) AS pe_id
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    )
    SELECT e.event_id, e.user_id, p.pe_id AS pe_id_asof
    FROM events e
    ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
    headline=True,
)
def asof_last_purchase(spark, sf_dir):
    """As-of join: each event matched to its user's latest prior purchase
    (union + carry-forward window — one sort-shuffle, no nested loop)."""
    ev = _t(spark, sf_dir, "events")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("pe_id"))
    )
    joined = temporal.asof_join(
        ev.select("event_id", "user_id", "ts"),
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        value_cols=["pe_id"],
    )
    return joined.select("event_id", "user_id", F.col("pe_id_asof"))


@register(
    "events_range_pairs",
    """
    SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
           date_diff('microsecond', a.ts, b.ts) AS delta_us
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND date_diff('microsecond', a.ts, b.ts) <= 60000000
    """,
)
def events_range_pairs(spark, sf_dir):
    """Bounded range join: same-user event pairs within 60 seconds, via
    time-bucket equi-join + exact filter (no nested-loop join)."""
    ev = _t(spark, sf_dir, "events")
    return temporal.range_join_bucketed(
        ev, key="user_id", ts_col="ts", id_col="event_id", window_seconds=60
    )


@register(
    "events_multires_rollup",
    """
    SELECT CASE WHEN bucket_hour IS NOT NULL THEN 'hour'
                WHEN bucket_day IS NOT NULL THEN 'day'
                ELSE 'total' END AS grain,
           coalesce(bucket_hour, bucket_day) AS bucket,
           cnt, total
    FROM (
      SELECT date_trunc('hour', ts) AS bucket_hour,
             date_trunc('day', ts) AS bucket_day,
             count(*) AS cnt, round(sum(value), 4) AS total
      FROM events
      GROUP BY GROUPING SETS ((date_trunc('hour', ts), date_trunc('day', ts)),
                              (date_trunc('day', ts)), ())
    )
    """,
)
def events_multires_rollup(spark, sf_dir):
    """Hypertable-style continuous-aggregate ladder: hour + day + total in
    one GROUPING SETS pass."""
    ev = _t(spark, sf_dir, "events")
    return temporal.multires_rollup(ev, ts_col="ts", value_col="value")


@register(
    "corpus_token_frequency",
    f"""
    SELECT word, count(*) AS freq FROM (
      SELECT unnest(regexp_split_to_array({_NORM_SQL}, ' ')) AS word
      FROM documents WHERE length({_NORM_SQL}) > 0
    ) WHERE word <> ''
    GROUP BY word ORDER BY freq DESC, word LIMIT 25
    """,
)
def corpus_token_frequency(spark, sf_dir):
    """Corpus-wide token frequency top-25 — the vocabulary-building pass of
    a tokenizer pipeline (explode + count + top-k)."""
    docs = _t(spark, sf_dir, "documents")
    from bigdataingestion_spark.operators.text import normalize_text

    norm = normalize_text(F.col("text"))
    return (
        docs.filter(F.length(norm) > 0)
        .select(F.explode(F.split(norm, " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.col("word"))
        .limit(25)
    )


# ===========================================================================
# [EXT] embedding similarity
# ===========================================================================

_COS_SQL = (
    "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / "
    "(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) * "
    "sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"
)


@register(
    "embedding_cosine_topk",
    f"""
    SELECT a.vec_id, round({_COS_SQL}, 6) AS cosine_sim
    FROM embeddings a, (SELECT embedding FROM embeddings WHERE vec_id = 0) b
    ORDER BY {_COS_SQL} DESC, a.vec_id
    LIMIT 10
    """,
    headline=True,
)
def embedding_cosine_topk(spark, sf_dir):
    """Brute-force exact cosine top-10 against vec_id 0's embedding."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    sims = emb.crossJoin(F.broadcast(q)).select(
        "vec_id",
        similarity.cosine(F.col("embedding"), F.col("qv")).alias("raw_sim"),
    )
    return (
        sims.orderBy(F.desc("raw_sim"), F.col("vec_id"))
        .limit(10)
        .select("vec_id", F.round("raw_sim", 6).alias("cosine_sim"))
    )


@register(
    "embedding_cosine_topk_arrow",
    f"""
    SELECT a.vec_id, round({_COS_SQL}, 6) AS cosine_sim
    FROM embeddings a, (SELECT embedding FROM embeddings WHERE vec_id = 0) b
    ORDER BY {_COS_SQL} DESC, a.vec_id
    LIMIT 10
    """,
)
def embedding_cosine_topk_arrow(spark, sf_dir):
    """Same top-10 as ``embedding_cosine_topk`` via the Arrow/numpy
    vectorized path (mapInPandas + BLAS matvec, per-partition top-k) —
    the pandas-UDF fast lane of the UDF policy, oracle-identical."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return similarity.cosine_topk_arrow(emb, list(q), k=10)


@register(
    "embedding_label_stats",
    """
    SELECT label, count(*) AS n,
           round(avg(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS avg_norm
    FROM embeddings GROUP BY label
    """,
)
def embedding_label_stats(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(similarity.norm(F.col("embedding"))), 6).alias("avg_norm"),
    )


@register(
    "embedding_near_dup_pairs",
    f"""
    SELECT a.label AS blk, a.vec_id AS id_a, b.vec_id AS id_b,
           round({_COS_SQL}, 6) AS cosine_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_COS_SQL} >= 0.3
    """,
)
def embedding_near_dup_pairs(spark, sf_dir):
    """Blocked (same-label) embedding near-dup join at cosine >= 0.3."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.pairwise_cosine_blocked(emb, block_col="label", threshold=0.3)


@register(
    "embedding_ivf_topk",
    f"""
    WITH seeds AS (
      SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
               AS cell_id,
             embedding::DOUBLE[] AS cv
      FROM embeddings
      QUALIFY row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) <= 4
    ),
    a0 AS (
      SELECT vec_id, cell_id FROM (
        SELECT e.vec_id, s.cell_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 list_dot_product(e.embedding::DOUBLE[], s.cv) /
                 (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                  sqrt(list_dot_product(s.cv, s.cv))) DESC, s.cell_id) AS rn
        FROM embeddings e CROSS JOIN seeds s
      ) WHERE rn = 1
    ),
    comp AS (
      SELECT a0.cell_id, CAST(t.pos AS INT) AS pos,
             e.embedding[CAST(t.pos + 1 AS INT)]::DOUBLE AS v
      FROM embeddings e JOIN a0 USING (vec_id),
           UNNEST(range(len(e.embedding))) AS t(pos)
    ),
    cent AS (
      SELECT cell_id, list(c ORDER BY pos) AS cv FROM (
        SELECT cell_id, pos, round(avg(v), 6) AS c
        FROM comp GROUP BY cell_id, pos
      ) GROUP BY cell_id
    ),
    sims AS (
      SELECT e.vec_id, c.cell_id,
             list_dot_product(e.embedding::DOUBLE[], c.cv) /
             (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
              sqrt(list_dot_product(c.cv, c.cv))) AS s
      FROM embeddings e CROSS JOIN cent c
    ),
    assigned AS (
      SELECT vec_id, cell_id FROM (
        SELECT vec_id, cell_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell_id) AS rn
        FROM sims
      ) WHERE rn = 1
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    qcell AS (SELECT cell_id FROM assigned WHERE vec_id = 0)
    SELECT a.vec_id,
           round(list_dot_product(a.embedding::DOUBLE[], q.qv::DOUBLE[]) /
                 (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                  sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))), 6) AS cosine_sim
    FROM embeddings a
    JOIN assigned s ON a.vec_id = s.vec_id
    JOIN qcell ON s.cell_id = qcell.cell_id, q
    ORDER BY list_dot_product(a.embedding::DOUBLE[], q.qv::DOUBLE[]) /
             (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
              sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))) DESC, a.vec_id
    LIMIT 5
    """,
)
def embedding_ivf_topk(spark, sf_dir):
    """IVF-style ANN: k-means-lite coarse quantizer (md5-ranked seeds + one
    deterministic Lloyd iteration, centroid components rounded to 6dp on
    both engines so summation-order noise can't flip an assignment), then
    search the query's cell only — the scale path next to brute-force
    ``embedding_cosine_topk``. The oracle recomputes the same training
    relationally: QUALIFY md5-rank for seeds, UNNEST(range(len)) +
    GROUP BY (cell, pos) for the Lloyd mean."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(emb, query_id=0, n_cells=4, k=5, lloyd_iters=1)


# ===========================================================================
# [EXT] multimodal
# ===========================================================================


@register(
    "multimodal_meta",
    """
    SELECT doc_id AS media_id,
           octet_length(encode(text)) AS byte_len,
           base64(encode(substr(text, 1, 8))) AS magic_b64
    FROM documents
    """,
)
def multimodal_meta(spark, sf_dir):
    """Opaque-payload metadata projection (byte length + magic prefix)."""
    media = multimodal.documents_as_media(_t(spark, sf_dir, "documents"))
    return multimodal.media_metadata(media).select("media_id", "byte_len", "magic_b64")


@register(
    "multimodal_features",
    """
    WITH media AS (
      SELECT doc_id AS media_id, encode(text) AS payload,
             base64(encode(substr(text, 1, 8))) AS magic_b64
      FROM documents
    ),
    hexed AS (
      SELECT media_id, hex(payload) AS h, octet_length(payload) AS n FROM media
    ),
    bytes AS (
      SELECT media_id, i,
             CAST(('0x' || substr(h, CAST(2 * i + 1 AS INT), 2)) AS INT) AS bv
      FROM hexed, UNNEST(range(n)) AS t(i)
    ),
    acc AS (
      SELECT media_id, CAST(i % 8 AS INT) AS j,
             CAST(sum(bv) % 997 AS INT) AS a
      FROM bytes GROUP BY media_id, CAST(i % 8 AS INT)
    ),
    slots AS (
      SELECT media_id, CAST(j AS INT) AS j FROM media, UNNEST(range(8)) AS t(j)
    ),
    fkey AS (
      SELECT s.media_id,
             string_agg(CAST(COALESCE(a.a, 0) AS VARCHAR), ',' ORDER BY s.j)
               AS feature_key
      FROM slots s LEFT JOIN acc a ON s.media_id = a.media_id AND s.j = a.j
      GROUP BY s.media_id
    )
    SELECT m.media_id, 'text' AS media_type,
           octet_length(m.payload) AS byte_len, m.magic_b64, f.feature_key
    FROM media m JOIN fkey f USING (media_id)
    """,
)
def multimodal_features(spark, sf_dir):
    """Arrow-batched decode/featurize plumbing over mapInPandas (decode
    stubbed with a deterministic featurizer; see operators.multimodal).

    The ``array<float>`` feature is projected to ``feature_key`` — the exact
    integer accumulator values recovered via ``round(x*997)`` (the fake
    featurizer emits acc/997.0 with acc in [0, 997), so the round-trip is
    lossless even through float32) — because the driver's canonicalizer
    cannot sort raw array columns. The DuckDB oracle recomputes the same
    accumulators relationally: byte extraction via hex()+substr, then a
    GROUP BY on byte-position mod dim (modular addition is associative, so
    the rolling loop IS a group-by)."""
    media = multimodal.documents_as_media(_t(spark, sf_dir, "documents"))
    feats = multimodal.extract_features(media, fake=True)
    return feats.select(
        "media_id",
        "media_type",
        "byte_len",
        "magic_b64",
        F.concat_ws(
            ",",
            F.transform(
                F.col("feature"),
                lambda x: F.round(x.cast("double") * 997, 0).cast("int").cast("string"),
            ),
        ).alias("feature_key"),
    )


# ===========================================================================
# TPC-H-adapted relational coverage, batch 2 (joins / subqueries / cube)
# Fixture schema has no partsupp/shipmode/phone columns; predicates are
# adapted to the columns that exist (see TESTDATA.md) while preserving each
# query's plan shape (the thing that matters at 100 TB).
# ===========================================================================


@register(
    "q7_nation_volume",
    """
    SELECT supp_nation, cust_nation, l_year,
           round(sum(volume), 4) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INT) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate BETWEEN CAST('1996-01-01' AS TIMESTAMP)
                           AND CAST('1997-12-31' AS TIMESTAMP)
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_volume(spark, sf_dir):
    """TPC-H Q7-style nation-pair trade volume.

    The disjunctive nation-pair predicate is applied AFTER joining both
    nation dims (both broadcast: 25 rows each); lineitem->orders->customer
    are fact joins left to AQE. The shipdate range predicate is pushed to
    the lineitem scan."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(
            F.lit("1996-01-01").cast("timestamp"),
            F.lit("1997-12-31").cast("timestamp"),
        )
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    rpair = (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .filter(pair | rpair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


@register(
    "q8_market_share",
    """
    SELECT o_year,
           round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
                 / sum(volume), 6) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    """,
    headline=True,
)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8-style market share: one nation's fraction of regional volume
    per year. part/nation/region broadcast; conditional aggregation keeps it
    a single pass (no self-join of the volume stream)."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == r.r_regionkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_3", vol).otherwise(F.lit(0.0)))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
    )


@register(
    "q9_product_profit",
    """
    SELECT nation, o_year, round(sum(amount), 4) AS profit
    FROM (
      SELECT n_name AS nation,
             CAST(year(o_orderdate) AS INT) AS o_year,
             l_extendedprice * (1 - l_discount)
               - 0.6 * p_retailprice * l_quantity AS amount
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN part ON p_partkey = l_partkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    """,
)
def q9_product_profit(spark, sf_dir):
    """TPC-H Q9-style product-line profit by supplier nation and year.
    (Fixture has no partsupp; supply cost modeled as 0.6*retailprice.)
    The LIKE filter prunes part before the join (no broadcast hint —
    part scales with data; AQE broadcasts locally, shuffles at scale)."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(0.6) * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.round(F.sum(amount), 4).alias("profit"))
    )


@register(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= CAST('1996-10-01' AS TIMESTAMP)
      AND o_orderdate < CAST('1997-01-01' AS TIMESTAMP)
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10-style: customers who returned the most revenue in a
    quarter. Quarter + returnflag predicates push to the scans; top-k runs
    as TakeOrderedAndProject."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "n_name", "revenue")
        .orderBy(F.desc("revenue"), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "q14_promo_revenue",
    """
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_pct
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= CAST('1996-09-01' AS TIMESTAMP)
      AND l_shipdate < CAST('1996-10-01' AS TIMESTAMP)
    """,
)
def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14-style promo-revenue percentage: month predicate pushed to
    the lineitem scan, single conditional aggregate; part carries no
    broadcast hint (it scales with data — AQE decides)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                6,
            ).alias("promo_pct")
        )
    )


@register(
    "q16_part_supplier_counts",
    """
    SELECT p_brand, p_type, CAST(p_size AS INT) AS p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    LIMIT 50
    """,
)
def q16_part_supplier_counts(spark, sf_dir):
    """TPC-H Q16-style supplier-count-per-part-class (fixture has no
    partsupp; the part->supplier relation is derived from lineitem).
    COUNT(DISTINCT) expands to a two-phase aggregate; the IN-list and <>
    predicates prune part before the join (no hint; AQE decides)."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34)
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", F.col("p_size").cast("int").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
        .limit(50)
    )


@register(
    "q18_large_orders",
    """
    SELECT c_custkey, o_orderkey,
           CAST(o_orderdate AS VARCHAR) AS orderdate,
           round(o_totalprice, 2) AS totalprice,
           round(sum(l_quantity), 2) AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 210
    )
    GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def q18_large_orders(spark, sf_dir):
    """TPC-H Q18-style large-volume orders: the IN subquery becomes a
    left-semi join against a pre-aggregated lineitem (map-side partial agg
    shrinks the shuffle before the HAVING filter)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .filter(F.col("sq") > 210)
        .select("l_orderkey")
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .select(
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("string").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("totalprice"), "o_orderkey")
        .limit(20)
    )


@register(
    "q19_disjunctive_revenue",
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19-style OR-of-ANDs join predicate. Catalyst factors the
    common join key into an equi-join and keeps the disjunction as a
    post-join filter; the brand/size disjunction is also pushed to the part
    scan (each disjunct constrains part columns only)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    joined = li.join(p, li.l_partkey == p.p_partkey)
    d1 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    )
    d2 = (
        (F.col("p_brand") == "Brand#13")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    )
    d3 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return joined.filter(d1 | d2 | d3).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "revenue"
        )
    )


@register(
    "q17_small_quantity_revenue",
    """
    WITH part_avg AS (
      SELECT l_partkey AS pk, 0.2 * avg(l_quantity) AS qty_threshold
      FROM lineitem GROUP BY 1
    )
    SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN part_avg ON pk = l_partkey
    WHERE p_brand = 'Brand#23' AND p_size <= 15
      AND l_quantity < qty_threshold
    """,
)
def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17-style correlated-average subquery: yearly revenue from
    orders whose quantity is below 20% of that part's average quantity
    (p_container doesn't exist in the fixture schema; p_brand+p_size stand
    in as the selective part filter). Spark-first shape: the correlated
    subquery is de-correlated into one groupBy over lineitem SEMI-JOINED to
    the filtered parts first — at 100 TB the per-part average is computed
    only for the ~1/25th of parts that survive the brand filter, and both
    the part keys and the per-part thresholds broadcast (they are bounded
    by |part filter|, not |lineitem|). avg(l_quantity) is exact: integer
    sums are exact in doubles and one IEEE division is deterministic across
    engines, so the threshold comparison can't flap between Spark and the
    oracle."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#23") & (F.col("p_size") <= 15)
    )
    pk = F.broadcast(p.select("p_partkey"))
    thresholds = (
        li.join(pk, li.l_partkey == F.col("p_partkey"), "left_semi")
        .groupBy("l_partkey")
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold"))
        .withColumnRenamed("l_partkey", "pk")
    )
    return (
        li.join(pk, li.l_partkey == F.col("p_partkey"), "left_semi")
        .join(F.broadcast(thresholds), li.l_partkey == F.col("pk"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"))
    )


@register(
    "q22_idle_customers",
    """
    SELECT c_mktsegment, count(*) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= CAST('1999-01-01' AS TIMESTAMP))
    GROUP BY c_mktsegment
    """,
)
def q22_idle_customers(spark, sf_dir):
    """TPC-H Q22-style: well-funded customers with no recent orders. The
    scalar avg subquery is broadcast as a 1-row cross join (stays plan-side,
    no driver collect); NOT EXISTS is a left-anti join on the order keys
    with the date predicate pushed into the anti side's scan."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    )
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@register(
    "lineitem_cube_stats",
    """
    SELECT COALESCE(CAST(CAST(year(l_shipdate) AS INT) AS VARCHAR), 'ALL') AS y,
           COALESCE(l_returnflag, 'ALL') AS returnflag,
           count(*) AS cnt,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (CAST(year(l_shipdate) AS INT), l_returnflag)
    """,
)
def lineitem_cube_stats(spark, sf_dir):
    """CUBE aggregation (all grouping sets of year x returnflag) in one
    shuffle; NULL grouping slots mapped to the 'ALL' sentinel so both
    engines hash identically."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube(F.year("l_shipdate").cast("int").alias("yy"), "l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select(
            F.coalesce(F.col("yy").cast("string"), F.lit("ALL")).alias("y"),
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            "cnt",
            "sum_qty",
        )
    )


@register(
    "q21_sole_late_supplier",
    """
    SELECT s_name, count(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q21_sole_late_supplier(spark, sf_dir):
    """TPC-H Q21-style: suppliers who were the SOLE late shipper in a
    multi-supplier order. The correlated EXISTS/NOT-EXISTS pair is
    decorrelated into a cascaded aggregate: first (order, supplier) with a
    late flag (fully partial-aggregatable, map-side combine), then per-order
    supplier/late-supplier counts. This avoids countDistinct's Expand node
    (which doubles the shuffled row count) — measured ~1.7x faster at sf0.1
    and the shape that survives 100 TB."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = _t(spark, sf_dir, "supplier")
    lo = li.join(o, li.l_orderkey == o.o_orderkey).withColumn(
        "is_late",
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
    )
    per_supp = lo.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.col("is_late").cast("int")).alias("any_late")
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("nsupp"),
        F.sum("any_late").alias("nlate_supp"),
    )
    sole = per_order.filter((F.col("nsupp") > 1) & (F.col("nlate_supp") == 1)).select(
        F.col("l_orderkey").alias("ok")
    )
    return (
        lo.filter(F.col("is_late"))
        .join(sole, F.col("l_orderkey") == F.col("ok"), "left_semi")
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@register(
    "part_best_supplier",
    """
    SELECT p_partkey, p_name, s_name, round(s_acctbal, 2) AS acctbal
    FROM (
      SELECT p_partkey, p_name, s_name, s_acctbal,
             row_number() OVER (PARTITION BY p_partkey
                                ORDER BY s_acctbal DESC, s_suppkey) AS rn
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      WHERE p_size IN (5, 10)
    ) ranked
    WHERE rn = 1
    """,
)
def part_best_supplier(spark, sf_dir):
    """TPC-H Q2-style best-supplier-per-part (fixture has no partsupp; the
    relation is derived from lineitem shipments). Rank-in-group via
    row_number with a deterministic suppkey tiebreak; the size IN-list
    prunes part before the broadcast join."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_size").isin(5, 10))
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    w = Window.partitionBy("p_partkey").orderBy(F.desc("s_acctbal"), F.col("s_suppkey"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .select("p_partkey", "p_name", "s_name", "s_acctbal", "s_suppkey")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "p_partkey", "p_name", "s_name", F.round("s_acctbal", 2).alias("acctbal")
        )
    )


@register(
    "customer_order_timeline",
    """
    SELECT o_orderkey, c_custkey,
           CAST(date_diff('day', lag(o_orderdate) OVER w, o_orderdate) AS BIGINT)
             AS gap_days,
           CAST(date_diff('day', o_orderdate, lead(o_orderdate) OVER w) AS BIGINT)
             AS next_gap_days,
           round(percent_rank() OVER (PARTITION BY c_mktsegment
                                      ORDER BY o_totalprice), 6) AS price_pr
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_custkey % 20 = 0
    WINDOW w AS (PARTITION BY c_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def customer_order_timeline(spark, sf_dir):
    """Analytic-window coverage: lag/lead inter-order gaps per customer plus
    percent_rank of order value within the customer's market segment. Two
    window specs -> two sort-within-partition passes, no extra shuffle
    beyond the two partitionings."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 20 == 0)
    w = Window.partitionBy("c_custkey").orderBy("o_orderdate", "o_orderkey")
    wp = Window.partitionBy("c_mktsegment").orderBy("o_totalprice")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            "o_orderkey",
            "c_custkey",
            F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)).cast(
                "bigint"
            ).alias("gap_days"),
            F.datediff(F.lead("o_orderdate").over(w), F.col("o_orderdate")).cast(
                "bigint"
            ).alias("next_gap_days"),
            F.round(F.percent_rank().over(wp), 6).alias("price_pr"),
        )
    )


@register(
    "docs_train_test_split",
    """
    SELECT split, lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars
    FROM (
      SELECT CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10 < 8
                  THEN 'train'
                  WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10 < 9
                  THEN 'valid'
                  ELSE 'test' END AS split,
             lang, n_chars
      FROM documents
    ) assigned
    GROUP BY split, lang
    """,
)
def docs_train_test_split(spark, sf_dir):
    """[EXT] Deterministic 80/10/10 train/valid/test assignment from a hash
    of doc_id (operators.text.deterministic_split): stable across reruns,
    partitionings, and engines — no seed, no shuffle."""
    docs = _t(spark, sf_dir, "documents")
    return (
        text.deterministic_split(docs)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


@register(
    "docs_stratified_sample",
    """
    SELECT lang, count(*) AS n_docs
    FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 <
          CASE lang WHEN 'en' THEN 25 WHEN 'zh' THEN 60 ELSE 90 END
    GROUP BY lang
    """,
)
def docs_stratified_sample(spark, sf_dir):
    """[EXT] Deterministic per-language downsampling (cap dominant
    languages): hash-gate filter at the scan, no seed, no shuffle
    (operators.text.stratified_sample)."""
    docs = _t(spark, sf_dir, "documents")
    sampled = text.stratified_sample(
        docs, rates={"en": 25, "zh": 60}, strata_col="lang", default_pct=90
    )
    return sampled.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))


# Shared DSIR CTEs (hashed 1..2-gram bag, Laplace-smoothed raw/target
# models, per-doc log importance weights) — ONE generator so the DSIR
# oracles cannot drift from each other; mirrors
# operators/selection.py exactly: same normalization, same n-gram bag,
# same md5[:8] % 10000 bucketing, same (n+1)/(N+10000) smoothing, same
# round-6 on the final weight. ``base`` is the corpus relation — the
# standalone queries score all documents; the composed pipeline scores
# its dedup+quality survivors (the target is always the corpus's 'en'
# slice: the in-corpus DSIR shape).
def _dsir_ctes(base: str = "documents") -> str:
    return f"""
    dwords AS (
      SELECT doc_id, lang, regexp_split_to_array({_NORM_SQL}, ' ') AS w
      FROM {base} WHERE length({_NORM_SQL}) > 0
    ),
    dsir_grams AS (
      SELECT doc_id, lang, unnest(w) AS g FROM dwords
      UNION ALL
      SELECT doc_id, lang,
             unnest([array_to_string(w[i:i+1], ' ') FOR i IN range(1, len(w))]) AS g
      FROM dwords
    ),
    dsir_feat AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(g), 1, 8))::BIGINT % 10000 AS bucket,
             count(*) AS cnt
      FROM dsir_grams GROUP BY doc_id, lang, bucket
    ),
    raw_model AS (SELECT bucket, sum(cnt) AS n FROM dsir_feat GROUP BY bucket),
    raw_total AS (SELECT sum(cnt) AS t FROM dsir_feat),
    tgt_model AS (
      SELECT bucket, sum(cnt) AS n FROM dsir_feat WHERE lang = 'en'
      GROUP BY bucket
    ),
    tgt_total AS (SELECT sum(cnt) AS t FROM dsir_feat WHERE lang = 'en'),
    dsir_wts AS (
      -- totals are NULL-coalesced: an empty target slice must yield the
      -- uniform smoothed model (denom = buckets), matching Spark's
      -- `total or 0`, not NULL-poison every weight to 0
      SELECT f.doc_id,
             round(sum(f.cnt * (
                ln((coalesce(tm.n, 0) + 1) / (coalesce(tt.t, 0) + 10000)) -
                ln((rm.n + 1) / (coalesce(rt.t, 0) + 10000))
             )), 6) AS log_weight
      FROM dsir_feat f
      LEFT JOIN tgt_model tm USING (bucket)
      JOIN raw_model rm USING (bucket)
      CROSS JOIN tgt_total tt
      CROSS JOIN raw_total rt
      GROUP BY f.doc_id
    ),
    dsir_all AS (
      SELECT d.doc_id, coalesce(dsir_wts.log_weight, 0.0) AS log_weight
      FROM {base} d LEFT JOIN dsir_wts USING (doc_id)
    )
"""


_DSIR_CTES = _dsir_ctes()

# Deterministic Gumbel noise + top-k score over dsir_all's log_weight —
# shared by the standalone resample oracle and the composed pipeline's
# (one constant, no drift); mirrors operators/selection.py gumbel_top_k.
_DSIR_SCORE_SQL = """round(log_weight - ln(-ln(
             ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 1000000) + 0.5) / 1000000.0
           )), 6)"""


@register(
    "docs_dsir_weights",
    f"""
    WITH {_DSIR_CTES}
    SELECT doc_id, log_weight FROM dsir_all
    """,
)
def docs_dsir_weights(spark, sf_dir):
    """[EXT] DSIR importance weights (r10, public arXiv:2302.03169 —
    "Data Selection for Language Models via Importance Resampling"):
    every document scored by how English-target-like its hashed
    1..2-gram bag is, ``log p_target/p_raw`` under two Laplace-smoothed
    10k-bucket models (target = the corpus's 'en' slice, raw = the full
    corpus). The shuffle carries (id, bucket) ints — grams hash before
    the exchange — and both models broadcast at <=10k rows; docs with
    empty normalized text carry weight 0 rather than vanishing
    (operators.selection.dsir_weights_in_corpus — the target IS a slice
    of the corpus, so the corpus featurizes ONCE and the target model
    derives from the cached features by a semi-join on the 'en' ids;
    r14 plan audit showed the r13 shape re-exploding the en slice's
    text a second time for value-identical models)."""
    docs = _t(spark, sf_dir, "documents")
    return selection.dsir_weights_in_corpus(
        docs, F.col("lang") == "en"
    )


@register(
    "docs_dsir_sample",
    f"""
    WITH {_DSIR_CTES}
    SELECT doc_id, log_weight,
           {_DSIR_SCORE_SQL} AS score
    FROM dsir_all
    ORDER BY score DESC, doc_id
    LIMIT 100
    """,
)
def docs_dsir_sample(spark, sf_dir):
    """[EXT] DSIR resampling (r10, arXiv:2302.03169): Gumbel-top-k over
    the importance weights = sampling k docs without replacement with
    probability proportional to p_target/p_raw — the paper's selection
    step — with the Gumbel noise derived from md5(doc_id) so the chosen
    training set is seedless, engine-portable, and reproducible at
    100 TB. Executes as TakeOrderedAndProject (per-partition heaps),
    never a global sort (operators.selection.dsir_resample_in_corpus —
    one corpus featurization, see docs_dsir_weights)."""
    docs = _t(spark, sf_dir, "documents")
    return selection.dsir_resample_in_corpus(
        docs, F.col("lang") == "en", k=100
    )


@register(
    "training_data_pipeline_dsir",
    f"""
    WITH {_PIPE_SURVIVOR_CTES},
    {_dsir_ctes("survivors")},
    sel AS (
      SELECT doc_id, log_weight, {_DSIR_SCORE_SQL} AS score
      FROM dsir_all
      ORDER BY score DESC, doc_id
      LIMIT 200
    ),
    toks AS (
      SELECT s.doc_id, s.source AS shard, s.word_count AS n_tokens,
             sel.log_weight, sel.score
      FROM survivors s JOIN sel ON s.doc_id = sel.doc_id
    ),
    c AS (
      SELECT *, CAST(COALESCE(sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS prev
      FROM toks
    )
    SELECT doc_id, shard, n_tokens,
           CAST(prev // 512 AS BIGINT) AS seq_id,
           CAST(prev % 512 AS BIGINT) AS token_offset,
           log_weight, score
    FROM c
    """,
)
def training_data_pipeline_dsir(spark, sf_dir):
    """[EXT] The END-TO-END LLM training-data pipeline (r11): quality
    gate -> fingerprint dedup -> DSIR importance resampling
    (arXiv:2302.03169, target = the survivors' own 'en' slice) -> GPT-
    style sequence packing of the selected 200 docs. The stages SHARE
    work instead of re-exploding the corpus per stage: the survivor set
    is computed once and cache-tracked (scoring pass + one dedup
    shuffle), and the DSIR stage featurizes it ONCE — the target model
    derives from the cached (id, bucket, cnt) features by a semi-join on
    the 'en' ids (selection.dsir_weights_in_corpus), never a second
    n-gram explode. Selection is deterministic Gumbel-top-k
    (TakeOrderedAndProject); packing is all-integer window arithmetic
    over (shard, id, n_tokens). At 100 TB this is one corpus read, one
    featurization, two bounded model collects, and a k-row selection."""
    from bigdataingestion_spark.caching import cache_tracked

    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    scored = docs.select(
        "doc_id",
        "lang",
        "source",
        "text",
        text.word_count(t).cast("long").alias("word_count"),
        text.punct_ratio(t).alias("punct_ratio"),
        text.fingerprint(t).alias("fingerprint"),
    )
    # cache barrier on gated: it feeds both the dedup aggregate and the
    # survivor join-back — uncached, the regex/md5 scoring pass runs twice.
    # (Locally both gated and survivors are cached; at lake scale cache one —
    # they both carry text.)
    gated = cache_tracked(
        scored.filter(
            (F.col("word_count") >= 20) & (F.col("punct_ratio") < 0.2)
        )
    )
    keep = gated.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    survivors = cache_tracked(
        gated.join(keep.select("doc_id"), "doc_id", "left_semi")
    )
    sel = selection.dsir_resample_in_corpus(
        survivors, F.col("lang") == "en", k=200
    )
    chosen = survivors.join(sel.select("doc_id"), "doc_id", "left_semi")
    packed = text.pack_sequences(chosen, budget=512)
    return packed.join(sel, "doc_id").select(
        "doc_id",
        "shard",
        "n_tokens",
        "seq_id",
        "token_offset",
        "log_weight",
        "score",
    )


@register(
    "user_purchase_error_overlap",
    """
    SELECT COALESCE(c.user_id, p.user_id) AS user_id,
           COALESCE(c.n, 0) AS n_big_purchases,
           COALESCE(p.n, 0) AS n_severe_errors
    FROM (SELECT user_id, count(*) AS n FROM events
          WHERE event_type = 'purchase' AND value > 90 GROUP BY user_id) c
    FULL OUTER JOIN
         (SELECT user_id, count(*) AS n FROM events
          WHERE event_type = 'error' AND value > 95 GROUP BY user_id) p
      ON c.user_id = p.user_id
    """,
)
def user_purchase_error_overlap(spark, sf_dir):
    """FULL OUTER join of two pre-aggregated event slices: users with big
    purchases vs users with severe errors, zero-filled on either side.
    Aggregating BEFORE the join shrinks both inputs to one row per user, so
    the full-outer shuffle is over user-cardinality, not event-cardinality
    — the ordering that matters at 100 TB."""
    ev = _t(spark, sf_dir, "events")
    c = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 90))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("user_id").alias("c_uid"), F.col("n").alias("c_n"))
    )
    p = (
        ev.filter((F.col("event_type") == "error") & (F.col("value") > 95))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("user_id").alias("p_uid"), F.col("n").alias("p_n"))
    )
    return c.join(p, c.c_uid == p.p_uid, "full_outer").select(
        F.coalesce(F.col("c_uid"), F.col("p_uid")).alias("user_id"),
        F.coalesce(F.col("c_n"), F.lit(0)).alias("n_big_purchases"),
        F.coalesce(F.col("p_n"), F.lit(0)).alias("n_severe_errors"),
    )


@register(
    "q11_major_part_types",
    """
    SELECT p_type, round(sum(l_extendedprice * (1 - l_discount)), 4) AS value
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    GROUP BY p_type
    HAVING sum(l_extendedprice * (1 - l_discount)) > (
      SELECT 0.05 * sum(l_extendedprice * (1 - l_discount)) FROM lineitem
    )
    """,
)
def q11_major_part_types(spark, sf_dir):
    """TPC-H Q11-style: part types whose revenue exceeds 5% of global
    revenue. The HAVING threshold is a global scalar subquery — computed as
    a 1-row aggregate broadcast into the post-aggregation filter, so both
    aggregations scan lineitem once each and nothing is collected to the
    driver."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    total = li.agg((F.lit(0.05) * F.sum(rev)).alias("threshold"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_type")
        .agg(F.sum(rev).alias("raw_value"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("raw_value") > F.col("threshold"))
        .select("p_type", F.round("raw_value", 4).alias("value"))
    )


@register(
    "q6_forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
    FROM lineitem
    WHERE l_shipdate >= CAST('1996-01-01' AS TIMESTAMP)
      AND l_shipdate < CAST('1997-01-01' AS TIMESTAMP)
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    headline=True,
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6: the scan-throughput microbenchmark. No join, no shuffle
    beyond the 1-row final aggregate — everything rides on predicate
    pushdown (all four range predicates reach the parquet scan as
    PushedFilters) and whole-stage-codegen'd partial aggregation. If this
    query is slow, the scan layer is wrong."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
                "revenue"
            )
        )
    )


@register(
    "q13_customer_order_distribution",
    """
    SELECT n_orders, count(*) AS n_custs
    FROM (
      SELECT c_custkey, count(o_orderkey) AS n_orders
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
                       AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) dist
    GROUP BY n_orders
    """,
)
def q13_customer_order_distribution(spark, sf_dir):
    """TPC-H Q13-style customer order-count histogram. The priority filter
    lives in the JOIN condition (not WHERE) so customers with only urgent
    orders still appear with count 0 — left-outer semantics the optimizer
    cannot convert to inner. Double aggregation: the second groupBy's input
    is one row per customer, and the histogram shuffle is tiny."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_custs"))
    )


@register(
    "docs_source_mix_weights",
    """
    SELECT source,
           n_docs,
           round(actual_share, 6) AS actual_share,
           round(1.0 / (n_sources * actual_share), 6) AS uniform_weight
    FROM (
      SELECT source,
             count(*) AS n_docs,
             count(*) * 1.0 / sum(count(*)) OVER () AS actual_share,
             count(*) OVER () AS n_sources
      FROM documents GROUP BY source
    ) shares
    """,
)
def docs_source_mix_weights(spark, sf_dir):
    """[EXT] Domain-mixing weights: per-source sampling weight that would
    rebalance the corpus to a uniform source mix (weight = target_share /
    actual_share). One aggregate plus an unpartitioned window over the
    per-source rows — the window input is #sources rows, not #docs, so the
    single-partition window is free at any corpus size."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy()
    shares = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn("actual_share", F.col("n_docs") / F.sum("n_docs").over(w))
        .withColumn("n_sources", F.count(F.lit(1)).over(w))
    )
    return shares.select(
        "source",
        "n_docs",
        F.round("actual_share", 6).alias("actual_share"),
        F.round(F.lit(1.0) / (F.col("n_sources") * F.col("actual_share")), 6).alias(
            "uniform_weight"
        ),
    )


@register(
    "embedding_knn_vote",
    """
    WITH q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id % 100 = 0
    ),
    sims AS (
      SELECT q.qid, e.vec_id, e.label,
             list_dot_product(qv, embedding::DOUBLE[])
               / (sqrt(list_dot_product(qv, qv))
                  * sqrt(list_dot_product(embedding::DOUBLE[],
                                          embedding::DOUBLE[]))) AS cos
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.qid
    ),
    topk AS (
      SELECT qid, label FROM (
        SELECT qid, label,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos DESC, vec_id) AS rn
        FROM sims
      ) r WHERE rn <= 5
    ),
    votes AS (SELECT qid, label, count(*) AS votes FROM topk GROUP BY qid, label)
    SELECT qid, label AS knn_label, votes FROM (
      SELECT qid, label, votes,
             row_number() OVER (PARTITION BY qid
                                ORDER BY votes DESC, label) AS rv
      FROM votes
    ) v WHERE rv = 1
    """,
)
def embedding_knn_vote(spark, sf_dir):
    """[EXT] kNN majority-vote labels for sampled query vectors
    (operators.similarity.knn_classify, k=5)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return similarity.knn_classify(emb, queries, k=5)


@register(
    "docs_contamination",
    f"""
    WITH words AS (
      SELECT doc_id, regexp_split_to_array({_NORM_SQL}, ' ') AS w FROM documents
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct(
               [array_to_string(w[i:i+3], ' ') FOR i IN range(1, len(w) - 2)]
             )) AS shingle
      FROM words WHERE len(w) >= 4
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0)
    SELECT c.doc_id, count(*) AS n_hits
    FROM sh c JOIN bench b ON c.shingle = b.shingle
    WHERE c.doc_id % 50 <> 0
    GROUP BY c.doc_id
    """,
)
def docs_contamination(spark, sf_dir):
    """[EXT] Eval-set decontamination: corpus docs sharing a 4-gram with the
    held-out 'benchmark' slice (doc_id % 50 = 0), with overlap counts
    (operators.dedup.contamination_hits)."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return dedup.contamination_hits(corpus, bench, n=4)


@register(
    "embedding_label_centroids",
    """
    SELECT label, pos, round(avg(embedding[pos]), 6) AS centroid_val
    FROM embeddings
    CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS pos) dims
    GROUP BY label, pos
    """,
)
def embedding_label_centroids(spark, sf_dir):
    """[EXT] Per-label centroid of the embedding vectors, computed as a
    position-wise aggregate: posexplode keeps the work JVM-side and fully
    partial-aggregatable (map-side combine over (label, pos)) — no Python,
    no vector UDF, scales linearly in rows x dims. First 8 dims projected
    to keep the oracle output compact."""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos0", "val"))
        .withColumn("pos", F.col("pos0") + 1)  # ordinality is 1-based
        .filter(F.col("pos") <= 8)
        .groupBy("label", "pos")
        .agg(F.round(F.avg("val"), 6).alias("centroid_val"))
    )


@register(
    "dedup_near_clusters",
    _SHINGLE_CTE.replace("WITH words", "WITH RECURSIVE words", 1)
    + """
    , kept AS (
      SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df FROM sh
      ) WHERE df <= 1000
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE i * 1.0 / (sa.n_sh + sb.n_sh - i) >= 0.3
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach AS (
      SELECT a AS src, a AS dst FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    )
    SELECT src AS doc_id, min(dst) AS cluster_id
    FROM reach GROUP BY src
    """,
)
def dedup_near_clusters(spark, sf_dir):
    """[EXT] Near-dup cluster resolution: 3-gram Jaccard pairs (>= 0.3)
    -> connected components -> (doc_id, cluster_id) for every clustered doc.
    Oracle computes the same fixpoint via a recursive transitive closure."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.3, n=3)
    cc = dedup.connected_components(pairs)
    return cc.select(F.col("node").alias("doc_id"), "cluster_id")


@register(
    "docs_repetition_stats",
    f"""
    WITH words AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(w) - 2),
                                   i -> array_to_string(w[i:i+2], ' '))) AS gram
      FROM words WHERE len(w) >= 3
    )
    SELECT doc_id, count(*) AS n_grams, count(DISTINCT gram) AS n_distinct,
           round(1.0 - count(DISTINCT gram) / CAST(count(*) AS DOUBLE), 6)
             AS dup_frac
    FROM grams GROUP BY doc_id
    """,
)
def docs_repetition_stats(spark, sf_dir):
    """[EXT] Gopher-style repetition signal: duplicate-3-gram fraction per
    document (operators.text.repetition_stats)."""
    return text.repetition_stats(_t(spark, sf_dir, "documents"))


# ===========================================================================
# TPC-H completion: the 5 shapes missing from the q* suite (q17 already
# present as small_quantity_revenue), adapted to the fixture schema (no
# partsupp — the part->supplier relation derives from lineitem; no
# commit/receipt dates — lateness is shipdate vs orderdate)
# ===========================================================================


@register(
    "q2_min_cost_supplier",
    """
    WITH costs AS (
      SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY 1, 2
    ),
    eligible AS (
      SELECT c.l_partkey, c.l_suppkey, c.unit_cost
      FROM costs c
      JOIN supplier s ON s_suppkey = c.l_suppkey
      JOIN nation n ON n_nationkey = s_nationkey
      JOIN region r ON r_regionkey = n_regionkey
      WHERE r_name = 'EUROPE'
    ),
    ranked AS (
      SELECT l_partkey, l_suppkey, unit_cost,
             row_number() OVER (
               PARTITION BY l_partkey ORDER BY unit_cost, l_suppkey
             ) AS rn
      FROM eligible
    )
    SELECT p.p_partkey, s.s_name, round(k.unit_cost, 4) AS unit_cost
    FROM ranked k
    JOIN part p ON p_partkey = k.l_partkey
    JOIN supplier s ON s_suppkey = k.l_suppkey
    WHERE k.rn = 1 AND p.p_type = 'PROMO' AND p.p_size <= 15
    ORDER BY p.p_partkey
    """,
)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2-style minimum-cost supplier: per part, the EUROPE supplier
    with the lowest observed unit price (correlated-min decorrelated to a
    rank-1 window; ranking on the unrounded min so the cut is
    engine-deterministic). Dimension chain supplier->nation->region is
    broadcast; the (part, supp) cost aggregate is the only big shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    costs = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    europe_supp = s.join(
        F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
        s.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "s_name")
    eligible = costs.join(
        F.broadcast(europe_supp), costs.l_suppkey == F.col("s_suppkey")
    )
    w = Window.partitionBy("l_partkey").orderBy("unit_cost", "l_suppkey")
    best = (
        eligible.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
    )
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "PROMO") & (F.col("p_size") <= 15)
    )
    return (
        best.join(p, best.l_partkey == p.p_partkey)
        .select(
            "p_partkey", "s_name", F.round("unit_cost", 4).alias("unit_cost")
        )
        .orderBy("p_partkey")
    )


@register(
    "q4_priority_late_ship",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY 1
    """,
)
def q4_priority_late_ship(spark, sf_dir):
    """TPC-H Q4-style order-priority checking: quarter's orders having any
    lineitem shipped >30 days after order date (EXISTS -> LEFT SEMI with
    the inequality in the join condition), histogrammed by priority."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("date"))
    )
    li = _t(spark, sf_dir, "lineitem")
    matched = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return matched.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@register(
    "q12_priority_by_returnflag",
    """
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
    GROUP BY 1
    """,
)
def q12_priority_by_returnflag(spark, sf_dir):
    """TPC-H Q12-style dual conditional count (fixture has no l_shipmode;
    returnflag plays the group key) — the CASE-inside-SUM pivot shape over
    an order/lineitem join with the date filter pushed to the scan."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q15_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1997-04-01'
      GROUP BY 1
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15-style top supplier: max-of-aggregate + join-back. Revenue
    is ROUNDED (2dp) before the max/equality so engine summation-order
    noise can't flip the arg-max — the classic Q15 float hazard."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("date"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    top = rev.agg(F.max("total_revenue").alias("_max"))
    s = _t(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(top), rev.total_revenue == F.col("_max"))
        .join(s, rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "q20_bulk_part_suppliers",
    """
    WITH shipped AS (
      SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'small%'
        AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      GROUP BY 1, 2
    )
    SELECT DISTINCT s_name, n_name
    FROM shipped
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE qty > 50
    ORDER BY s_name, n_name
    """,
)
def q20_bulk_part_suppliers(spark, sf_dir):
    """TPC-H Q20-style nested-IN chain: suppliers who moved >50 units of
    any 'small%' part in a year (part filter -> lineitem agg -> threshold
    -> distinct supplier semi-chain; quantity sums are exact integers in
    doubles, so the threshold is engine-safe)."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
    )
    shipped = (
        li.join(F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50)
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        s.join(shipped.select("l_suppkey").distinct(), s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("s_name", "n_name")
        .distinct()
        .orderBy("s_name", "n_name")
    )


# ===========================================================================
# [EXT] round-4 widening: gapfill/retention/funnel, banded simhash pairs,
# salted-agg parity, k-means cells, tf-idf
# ===========================================================================


@register(
    "events_hourly_gapfill",
    """
    WITH agg AS (
      SELECT event_type AS key, date_trunc('hour', ts) AS bucket,
             CAST(count(*) AS BIGINT) AS cnt, round(avg(value), 6) AS avg_value
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT date_trunc('hour', min(ts)) AS lo,
             date_trunc('hour', max(ts)) AS hi
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
      FROM bounds
    ),
    keys AS (SELECT DISTINCT event_type AS key FROM events)
    SELECT k.key, s.bucket,
           CAST(COALESCE(a.cnt, 0) AS BIGINT) AS cnt,
           last_value(a.avg_value IGNORE NULLS) OVER (
             PARTITION BY k.key ORDER BY s.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS avg_value_locf
    FROM keys k CROSS JOIN spine s
    LEFT JOIN agg a ON a.key = k.key AND a.bucket = s.bucket
    """,
)
def events_hourly_gapfill(spark, sf_dir):
    """[EXT] TimescaleDB time_bucket_gapfill + LOCF parity: every hourly
    bucket per event_type, missing hours at cnt=0 carrying the previous
    bucket's (pre-rounded) average forward (operators.temporal.gapfill_locf)."""
    ev = _t(spark, sf_dir, "events")
    return temporal.gapfill_locf(ev, ts_col="ts", key_col="event_type", value_col="value")


@register(
    "events_retention_cohorts",
    """
    WITH first_seen AS (
      SELECT user_id AS u, min(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY 1
    ),
    activity AS (
      SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS active_day FROM events
    )
    SELECT f.cohort_day,
           CAST(date_diff('day', f.cohort_day, a.active_day) AS INT) AS day_offset,
           count(DISTINCT a.u) AS n_users
    FROM activity a JOIN first_seen f USING (u)
    GROUP BY 1, 2
    """,
)
def events_retention_cohorts(spark, sf_dir):
    """[EXT] Cohort retention matrix: users bucketed by first-activity day,
    distinct active users per (cohort, day offset)
    (operators.temporal.retention_cohorts)."""
    ev = _t(spark, sf_dir, "events")
    return temporal.retention_cohorts(ev, ts_col="ts", user_col="user_id")


@register(
    "events_window_funnel",
    """
    WITH t1 AS (
      SELECT user_id AS u, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    t2 AS (
      SELECT e.user_id AS u, min(e.ts) AS t2
      FROM events e JOIN t1 ON e.user_id = t1.u
      WHERE e.event_type = 'click' AND e.ts > t1.t1
        AND e.ts <= t1.t1 + INTERVAL 1 HOUR
      GROUP BY 1
    ),
    t3 AS (
      SELECT e.user_id AS u, min(e.ts) AS t3
      FROM events e JOIN t1 ON e.user_id = t1.u JOIN t2 ON e.user_id = t2.u
      WHERE e.event_type = 'purchase' AND e.ts > t2.t2
        AND e.ts <= t1.t1 + INTERVAL 1 HOUR
      GROUP BY 1
    ),
    users AS (SELECT DISTINCT user_id AS u FROM events)
    SELECT CAST(CASE WHEN t3.t3 IS NOT NULL THEN 3
                     WHEN t2.t2 IS NOT NULL THEN 2
                     WHEN t1.t1 IS NOT NULL THEN 1
                     ELSE 0 END AS INT) AS funnel_depth,
           count(*) AS n_users
    FROM users u
    LEFT JOIN t1 ON u.u = t1.u
    LEFT JOIN t2 ON u.u = t2.u
    LEFT JOIN t3 ON u.u = t3.u
    GROUP BY 1
    """,
)
def events_window_funnel(spark, sf_dir):
    """[EXT] ClickHouse-windowFunnel-style conversion depth histogram for
    view -> click -> purchase within 1h of the first view — one shuffle by
    user with chained conditional-min windows, vs the oracle's 3-scan
    self-join formulation (operators.temporal.window_funnel)."""
    ev = _t(spark, sf_dir, "events")
    return temporal.window_funnel(
        ev, steps=["view", "click", "purchase"], window="1 hour"
    )


def _simhash_pairs_sql() -> str:
    return f"""
    WITH sh AS ({_simhash_sql()})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash_hi, b.simhash_hi)) +
                bit_count(xor(a.simhash_lo, b.simhash_lo)) AS INT) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash_hi, b.simhash_hi)) +
          bit_count(xor(a.simhash_lo, b.simhash_lo)) <= 3
    """


@register("simhash_hamming_pairs", _simhash_pairs_sql())
def simhash_hamming_pairs(spark, sf_dir):
    """[EXT] SimHash near-dup pairs at hamming <= 3 via lossless banding
    (4 bands; pigeonhole guarantees every qualifying pair shares a band) —
    candidates are band collisions only, never all pairs; the oracle does
    the quadratic join the banded plan avoids
    (operators.dedup.simhash_hamming_pairs)."""
    docs = _t(spark, sf_dir, "documents")
    out = dedup.simhash_hamming_pairs(docs, max_distance=3)
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


@register(
    "orders_salted_totals",
    """
    SELECT o_orderstatus, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders GROUP BY 1
    """,
)
def orders_salted_totals(spark, sf_dir):
    """[EXT] Skew-safe two-phase aggregation parity: per-status totals over
    a 3-value (maximally hot) grouping key, phase 1 on (key, salt) spreading
    each hot key over 16 reducers, phase 2 merging partials — identical
    result to the oracle's direct GROUP BY (operators.skew)."""
    from bigdataingestion_spark.operators.skew import with_salt

    orders = _t(spark, sf_dir, "orders")
    phase1 = with_salt(orders, 16).groupBy("o_orderstatus", "_salt").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("o_totalprice").alias("_s")
    )
    return phase1.groupBy("o_orderstatus").agg(
        F.sum("_n").alias("n_orders"),
        F.round(F.sum("_s"), 2).alias("total_price"),
    )


# Shared k-means-lite oracle CTEs (seeds -> one Lloyd iteration ->
# final assignment), used by embedding_kmeans_cells,
# embedding_semantic_dedup and the incremental variant — one generator,
# so a tweak to seeding/rounding/tie-breaks can never silently
# desynchronize the oracles from
# operators.similarity.kmeans_lite_centroids + ivf_assign. ``train``
# names the CTE/table the quantizer TRAINS on; assignment (sims/
# assigned) always covers all of ``embeddings``.


def _kmeans_ctes(train: str = "embeddings") -> str:
    return f"""
    seeds AS (
      SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
               AS cell_id,
             embedding::DOUBLE[] AS cv
      FROM {train}
      QUALIFY row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) <= 4
    ),
    a0 AS (
      SELECT vec_id, cell_id FROM (
        SELECT e.vec_id, s.cell_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 list_dot_product(e.embedding::DOUBLE[], s.cv) /
                 (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                  sqrt(list_dot_product(s.cv, s.cv))) DESC, s.cell_id) AS rn
        FROM {train} e CROSS JOIN seeds s
      ) WHERE rn = 1
    ),
    comp AS (
      SELECT a0.cell_id, CAST(t.pos AS INT) AS pos,
             e.embedding[CAST(t.pos + 1 AS INT)]::DOUBLE AS v
      FROM {train} e JOIN a0 USING (vec_id),
           UNNEST(range(len(e.embedding))) AS t(pos)
    ),
    cent AS (
      SELECT cell_id, list(c ORDER BY pos) AS cv FROM (
        SELECT cell_id, pos, round(avg(v), 6) AS c
        FROM comp GROUP BY cell_id, pos
      ) GROUP BY cell_id
    ),
    sims AS (
      SELECT e.vec_id, c.cell_id,
             list_dot_product(e.embedding::DOUBLE[], c.cv) /
             (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
              sqrt(list_dot_product(c.cv, c.cv))) AS s
      FROM embeddings e CROSS JOIN cent c
    ),
    assigned AS (
      SELECT vec_id, cell_id, s FROM (
        SELECT vec_id, cell_id, s,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell_id) AS rn
        FROM sims
      ) WHERE rn = 1
    )
"""


_KMEANS_CTES = "WITH " + _kmeans_ctes()


def _kmeans_cells_sql() -> str:
    return f"""
    {_KMEANS_CTES}
    SELECT CAST(cell_id AS INT) AS cell_id, count(*) AS n_vectors,
           round(avg(s), 6) AS avg_cos
    FROM assigned GROUP BY 1
    """


@register("embedding_kmeans_cells", _kmeans_cells_sql())
def embedding_kmeans_cells(spark, sf_dir):
    """[EXT] Cluster profile of the k-means-lite IVF quantizer: per-cell
    population and mean cosine to the Lloyd-refined centroid — the
    cell-balance diagnostic an IVF index needs before choosing n_cells
    (operators.similarity.kmeans_lite_centroids + ivf_assign)."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_lite_centroids(emb, n_cells=4, lloyd_iters=1)
    sims = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cell_id",
        similarity.cosine(F.col("embedding"), F.col("cv")).alias("_s"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("_s"), F.col("cell_id"))
    best = sims.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    return best.groupBy(F.col("cell_id").cast("int").alias("cell_id")).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg("_s"), 6).alias("avg_cos"),
    )


@register(
    "docs_pack_sequences",
    f"""
    WITH toks AS (
      SELECT doc_id, source AS shard,
             CAST({_WC_SQL} AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, shard, n_tokens,
             CAST(COALESCE(sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS prev
      FROM toks
    )
    SELECT doc_id, shard, n_tokens,
           CAST(prev // 512 AS BIGINT) AS seq_id,
           CAST(prev % 512 AS BIGINT) AS token_offset
    FROM c
    """,
)
def docs_pack_sequences(spark, sf_dir):
    """[EXT] GPT-style concat-and-chunk packing manifest: per-shard token
    streams cut every 512 tokens; each doc's starting sequence + offset —
    all-integer window arithmetic, deterministic across engines
    (operators.text.pack_sequences)."""
    return text.pack_sequences(_t(spark, sf_dir, "documents"), budget=512)


@register(
    "events_scd2_intervals",
    """
    SELECT user_id, event_type, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             AS is_current
    FROM events
    """,
)
def events_scd2_intervals(spark, sf_dir):
    """[EXT] SCD2 validity intervals from a change log: each user's event
    stream read as attribute changes; a version's valid_to is the next
    change's timestamp, the open version flagged current — the query-side
    mirror of the sinks.scd2 close-out/open semantics (one window shuffle
    keyed by the dimension key)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


@register(
    "docs_tfidf_top_terms",
    f"""
    WITH words AS (
      SELECT doc_id,
             unnest(regexp_split_to_array({_NORM_SQL}, ' ')) AS word
      FROM documents
    ),
    tf AS (
      SELECT doc_id, word, count(*) AS tf
      FROM words WHERE word <> '' GROUP BY 1, 2
    ),
    df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents)
    SELECT doc_id, word, round(tf * ln(n / df), 6) AS tfidf
    FROM tf JOIN df USING (word), n
    ORDER BY tf * ln(n / df) DESC, doc_id, word
    LIMIT 20
    """,
)
def docs_tfidf_top_terms(spark, sf_dir):
    """[EXT] Corpus top-20 (doc, term) by TF-IDF; ranking on the unrounded
    score (integer tf/df + ln are bit-identical cross-engine) makes the
    top-N cut deterministic (operators.text.tfidf_top_terms)."""
    return text.tfidf_top_terms(_t(spark, sf_dir, "documents"), top_n=20)


def _pii_redact_sql(expr: str) -> str:
    """DuckDB regexp_replace chain mirroring text.PII_PATTERNS in order.
    Patterns are RE2/Java-compatible (no lookaround, no backrefs); 'g'
    matches Spark's replace-all semantics."""
    for pat, repl in text.PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '{repl}', 'g')"
    return expr


_PII_SEED_SUFFIX = (
    "@mail.example.com ph 555-123-4567 ssn 123-45-6789 ip 192.168.1.42"
)


@register(
    "docs_pii_redacted",
    f"""
    WITH seeded AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '{_PII_SEED_SUFFIX}' AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_split_to_array(
             {_pii_redact_sql('text')}, '<(EMAIL|SSN|CARD|PHONE|IP)>'
           )) - 1 AS BIGINT) AS pii_hits,
           md5({_pii_redact_sql('text')}) AS redacted_md5
    FROM seeded
    """,
)
def docs_pii_redacted(spark, sf_dir):
    """[EXT] PII scrub pass: every document gets a deterministic synthetic
    PII suffix (email/phone/SSN/IP seeded from doc_id, since fixture text
    is clean), then the full regexp_replace chain masks it; the md5 of the
    redacted text is an exact cross-engine witness of the whole redaction
    (operators.text.redact_pii — pure JVM regex chain, scan-speed)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit(_PII_SEED_SUFFIX),
        ).alias("text"),
    )
    red = text.redact_documents(docs)
    return red.select(
        "doc_id",
        F.col("pii_hits").cast("long").alias("pii_hits"),
        F.md5("text_redacted").alias("redacted_md5"),
    )


@register(
    "events_latest_state",
    """
    SELECT user_id, ts AS last_ts, event_id AS last_event_id,
           event_type AS last_event_type, value AS last_value
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC
      ) AS rn FROM events
    ) WHERE rn = 1
    """,
)
def events_latest_state(spark, sf_dir):
    """[EXT] CDC latest-wins compaction: the current-state view a MERGE
    mirror converges to, computed as a struct-max aggregate (map-side
    partial agg; the shuffle carries one pre-reduced row per key per map
    task instead of the sorted change log — operators.temporal.latest_state)."""
    return temporal.latest_state(
        _t(spark, sf_dir, "events"),
        key_col="user_id",
        order_cols=("ts", "event_id"),
        payload_cols=("event_type", "value"),
    )


@register(
    "orders_yoy_growth",
    """
    WITH y AS (
      SELECT CAST(year(o_orderdate) AS INT) AS yr,
             round(sum(o_totalprice), 4) AS revenue,
             count(*) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT yr, revenue, n_orders,
           round(100.0 * (revenue - lag(revenue) OVER (ORDER BY yr))
                 / lag(revenue) OVER (ORDER BY yr), 6) AS yoy_pct
    FROM y
    """,
)
def orders_yoy_growth(spark, sf_dir):
    """[EXT] Year-over-year revenue growth. The lag window runs over the
    POST-AGGREGATE frame (one row per year), so the single-partition window
    is a handful of rows at any input scale; growth is computed from the
    4-dp-rounded revenue so both engines divide identical doubles."""
    o = _t(spark, sf_dir, "orders")
    y = o.groupBy(F.year("o_orderdate").cast("int").alias("yr")).agg(
        F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy("yr")
    prev = F.lag("revenue").over(w)
    return y.select(
        "yr",
        "revenue",
        "n_orders",
        F.round(100.0 * (F.col("revenue") - prev) / prev, 6).alias("yoy_pct"),
    )


@register(
    "events_zscore_outliers",
    """
    WITH s AS (
      SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
      FROM events GROUP BY 1
    )
    SELECT event_id, e.event_type, round((value - mu) / sd, 4) AS zscore
    FROM events e JOIN s ON e.event_type = s.event_type
    WHERE abs(value - mu) > 2.5 * sd
    """,
)
def events_zscore_outliers(spark, sf_dir):
    """[EXT] Per-type z-score anomaly gate (the outlier-filter stage of a
    quality pipeline). The stats frame is one row per event_type — hinted
    broadcast, so the fact scan never shuffles: stats-aggregate + one
    broadcast-joined filter pass."""
    ev = _t(spark, sf_dir, "events")
    stats = ev.groupBy(F.col("event_type").alias("_et")).agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sd"),
    )
    return (
        ev.join(F.broadcast(stats), ev.event_type == stats._et)
        .filter(F.abs(F.col("value") - F.col("mu")) > 2.5 * F.col("sd"))
        .select(
            "event_id",
            "event_type",
            F.round((F.col("value") - F.col("mu")) / F.col("sd"), 4).alias("zscore"),
        )
    )


@register(
    "embedding_quantize_int8",
    """
    WITH s AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             list_min(embedding::DOUBLE[]) AS mn,
             list_max(embedding::DOUBLE[]) AS mx
      FROM embeddings
    ),
    p AS (SELECT vec_id, v, mn, mx, (mx - mn) / 255.0 AS scale FROM s)
    SELECT vec_id,
           round(mn, 6) AS vmin,
           round(mx, 6) AS vmax,
           CAST(CASE WHEN mx > mn THEN list_sum(list_transform(
             v, x -> CAST(round((x - mn) / scale) AS BIGINT)
           )) ELSE 0 END AS BIGINT) AS code_sum,
           CASE WHEN mx > mn THEN round(list_max(list_transform(
             v, x -> abs(mn + round((x - mn) / scale) * scale - x)
           )), 6) ELSE 0.0 END AS max_abs_err
    FROM p
    """,
)
def embedding_quantize_int8(spark, sf_dir):
    """[EXT] Scalar int8 quantization diagnostics per vector: value range,
    code checksum, max reconstruction error. Elementwise built-in array
    math in double precision — narrow pass, zero shuffle, whole-stage
    codegen (operators.similarity.quantize_int8; the codes array itself is
    dropped here so the gate hashes only scalar columns — r3 lesson)."""
    q = similarity.quantize_int8(_t(spark, sf_dir, "embeddings"))
    return q.select("vec_id", "vmin", "vmax", "code_sum", "max_abs_err")


@register(
    "events_value_histogram",
    """
    WITH s AS (
      SELECT min(value) AS mn, max(value) AS mx
      FROM events WHERE value IS NOT NULL
    )
    SELECT CAST(least(floor((value - mn) / ((mx - mn) / 20.0)), 19) AS INT)
             AS bucket,
           count(*) AS n,
           round(min(value), 6) AS bucket_min,
           round(max(value), 6) AS bucket_max
    FROM events, s WHERE value IS NOT NULL
    GROUP BY 1
    """,
)
def events_value_histogram(spark, sf_dir):
    """[EXT] Equal-width 20-bucket histogram of event values — the
    distribution profile a quality pipeline computes before choosing filter
    thresholds. The min/max frame is a broadcast 1-row aggregate, so the
    binning pass is narrow; bucket = least(floor((v-mn)/width), 19) keeps
    the v==mx edge in the top bucket identically in both engines (min/max
    are exact selections, so the arithmetic is bit-reproducible)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    stats = ev.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    width = (F.col("mx") - F.col("mn")) / 20.0
    bucket = F.least(
        F.floor((F.col("value") - F.col("mn")) / width), F.lit(19)
    ).cast("int")
    return (
        ev.crossJoin(F.broadcast(stats))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 6).alias("bucket_min"),
            F.round(F.max("value"), 6).alias("bucket_max"),
        )
    )


def _pq_ctes(m: int = 4, sub_dim: int = 16, k: int = 4):
    """Per-subspace mirror of the k-means-lite oracle (see
    _kmeans_cells_sql) over contiguous vector slices. Returns the CTE
    bodies; _pq_sql / _pq_topk_sql assemble them."""
    ctes, finals = [], []
    for s in range(m):
        lo, hi = s * sub_dim + 1, (s + 1) * sub_dim
        sv = f"(embedding::DOUBLE[])[{lo}:{hi}]"
        sv_e = f"(e.embedding::DOUBLE[])[{lo}:{hi}]"
        cos_seed = (
            f"list_dot_product({sv_e}, s.cv) / "
            f"(sqrt(list_dot_product({sv_e}, {sv_e})) * "
            f"sqrt(list_dot_product(s.cv, s.cv)))"
        )
        cos_cent = (
            f"list_dot_product({sv_e}, c.cv) / "
            f"(sqrt(list_dot_product({sv_e}, {sv_e})) * "
            f"sqrt(list_dot_product(c.cv, c.cv)))"
        )
        ctes.append(f"""
    seeds{s} AS (
      SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
               AS cell_id,
             {sv} AS cv
      FROM embeddings
      QUALIFY row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) <= {k}
    ),
    a0_{s} AS (
      SELECT vec_id, cell_id FROM (
        SELECT e.vec_id, s.cell_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {cos_seed} DESC, s.cell_id) AS rn
        FROM embeddings e CROSS JOIN seeds{s} s
      ) WHERE rn = 1
    ),
    comp{s} AS (
      SELECT a.cell_id, CAST(t.pos AS INT) AS pos,
             {sv_e}[CAST(t.pos + 1 AS INT)] AS v
      FROM embeddings e JOIN a0_{s} a USING (vec_id),
           UNNEST(range({sub_dim})) AS t(pos)
    ),
    cent{s} AS (
      SELECT cell_id, list(c ORDER BY pos) AS cv FROM (
        SELECT cell_id, pos, round(avg(v), 6) AS c
        FROM comp{s} GROUP BY cell_id, pos
      ) GROUP BY cell_id
    ),
    asg{s} AS (
      SELECT vec_id, CAST({s} AS INT) AS subspace,
             CAST(cell_id AS INT) AS code, round(sim, 6) AS sim
      FROM (
        SELECT e.vec_id, c.cell_id, {cos_cent} AS sim,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {cos_cent} DESC, c.cell_id) AS rn
        FROM embeddings e CROSS JOIN cent{s} c
      ) WHERE rn = 1
    )""")
        finals.append(f"SELECT * FROM asg{s}")
    return ctes, finals


def _pq_sql(m: int = 4, sub_dim: int = 16, k: int = 4) -> str:
    ctes, finals = _pq_ctes(m, sub_dim, k)
    return "WITH " + ",".join(ctes) + "\n" + " UNION ALL ".join(finals)


def _pq_topk_sql(
    qid: int, topk: int, m: int = 4, sub_dim: int = 16, k: int = 4
) -> str:
    """ADC search oracle: cosine(query, PQ reconstruction) via per-subspace
    LUTs over the SAME codebooks as _pq_sql; ranking on the 6dp-rounded
    score with id tiebreak (mirrors operators.similarity.pq_topk)."""
    ctes, finals = _pq_ctes(m, sub_dim, k)
    lut_parts = []
    for s in range(m):
        lo, hi = s * sub_dim + 1, (s + 1) * sub_dim
        lut_parts.append(f"""
      SELECT CAST({s} AS INT) AS subspace, CAST(c.cell_id AS INT) AS code,
             list_dot_product((q.qv)[{lo}:{hi}], c.cv) AS dotp,
             list_dot_product(c.cv, c.cv) AS n2
      FROM cent{s} c, q""")
    return (
        "WITH " + ",".join(ctes) + f""",
    q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {qid}
    ),
    luts AS ({' UNION ALL '.join(lut_parts)}),
    codes AS ({' UNION ALL '.join(
        f'SELECT vec_id, subspace, code FROM asg{s}' for s in range(m)
    )}),
    scored AS (
      SELECT vec_id, sum(dotp) AS d, sum(n2) AS sn2
      FROM codes JOIN luts USING (subspace, code) GROUP BY vec_id
    )
    SELECT vec_id,
           round(d / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(sn2)), 6)
             AS pq_sim
    FROM scored, q
    ORDER BY pq_sim DESC, vec_id
    LIMIT {topk}
    """
    )


@register("embedding_pq_codes", _pq_sql())
def embedding_pq_codes(spark, sf_dir):
    """[EXT] Product quantization encode: 4 subspaces x 16 dims, an
    md5-seeded + 1-Lloyd k-means-lite codebook of 4 codewords per subspace;
    long-form (vec_id, subspace, code, sim) with the per-subspace cosine to
    the winning codeword as the distortion diagnostic
    (operators.similarity.pq_encode — codebooks broadcast, encode narrow)."""
    return similarity.pq_encode(
        _t(spark, sf_dir, "embeddings"),
        m=4, sub_dim=16, codes_per_space=4, lloyd_iters=1,
    )


@register("embedding_pq_topk", _pq_topk_sql(qid=7, topk=10))
def embedding_pq_topk(spark, sf_dir):
    """[EXT] PQ asymmetric-distance top-10 for query vector 7: corpus
    touched only through its 8-bit codes joined to broadcast per-subspace
    LUTs — the memory-bound ANN scan (operators.similarity.pq_topk)."""
    return similarity.pq_topk(
        _t(spark, sf_dir, "embeddings"),
        query_id=7, k=10, m=4, sub_dim=16, codes_per_space=4, lloyd_iters=1,
    )


@register(
    "docs_temperature_sample",
    """
    WITH shares AS (
      SELECT source, count(*) * 1.0 / sum(count(*)) OVER () AS share
      FROM documents GROUP BY source
    ),
    rel AS (
      SELECT source, share,
             (sqrt(share) / sum(sqrt(share)) OVER ()) / share AS r
      FROM shares
    ),
    rates AS (SELECT source, r / max(r) OVER () AS keep_rate FROM rel)
    SELECT d.source, count(*) AS n_kept,
           round(n.keep_rate, 6) AS keep_rate
    FROM documents d JOIN rates n ON d.source = n.source
    WHERE (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
            % 1000000) / 1000000.0 < n.keep_rate
    GROUP BY d.source, n.keep_rate
    """,
)
def docs_temperature_sample(spark, sf_dir):
    """[EXT] Temperature-flattened (T=2) source-mix resampling: rare
    sources keep everything, dominant sources are hash-gated down toward a
    sqrt-flattened mix — the corpus-rebalancing pass of a training
    pipeline. Rate table broadcast; the gate is a deterministic narrow
    filter (operators.text.temperature_sample)."""
    sampled = text.temperature_sample(_t(spark, sf_dir, "documents"))
    return sampled.groupBy("source", F.round("keep_rate", 6).alias("keep_rate")).agg(
        F.count(F.lit(1)).alias("n_kept")
    ).select("source", "n_kept", "keep_rate")


def _minhash_incremental_sql(num_hashes: int = 16, bands: int = 4) -> str:
    r = num_hashes // bands
    sig_cols = [f"sig_{i}" for i in range(num_hashes)]
    band_rows = ", ".join(
        f"({b}, md5(concat_ws(',', {', '.join(sig_cols[b * r:(b + 1) * r])})))"
        for b in range(bands)
    )
    matches = " + ".join(
        f"CASE WHEN sn.{c} = sc.{c} THEN 1 ELSE 0 END" for c in sig_cols
    )
    return f"""
    WITH sig AS ({_minhash_sig_sql(num_hashes)}),
    buckets AS (
      SELECT doc_id, b.band, b.key
      FROM sig, LATERAL (VALUES {band_rows}) AS b(band, key)
    ),
    cand AS (
      SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
      FROM buckets n JOIN buckets c
        ON n.band = c.band AND n.key = c.key
      WHERE n.doc_id % 2 = 1 AND c.doc_id % 2 = 0
    )
    SELECT new_id, corpus_id,
           round(({matches}) / {num_hashes}.0, 6) AS est_jaccard
    FROM cand
    JOIN sig sn ON cand.new_id = sn.doc_id
    JOIN sig sc ON cand.corpus_id = sc.doc_id
    """


@register("minhash_incremental_pairs", _minhash_incremental_sql())
def minhash_incremental_pairs(spark, sf_dir):
    """[EXT] Incremental batch-vs-corpus near-dup gate: odd doc_ids play
    the incoming micro-batch, even ids the existing corpus; banded
    signature probe join, batch-side-only hashing at scale
    (operators.dedup.minhash_incremental_pairs)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_incremental_pairs(
        corpus=docs.filter(F.col("doc_id") % 2 == 0),
        batch=docs.filter(F.col("doc_id") % 2 == 1),
        num_hashes=16,
        bands=4,
    )


@register(
    "docs_boilerplate_ngrams",
    f"""
    WITH words AS (
      SELECT doc_id, source,
             regexp_split_to_array({_NORM_SQL}, ' ') AS w
      FROM documents
    ),
    sh AS (
      SELECT doc_id, source, unnest(list_distinct(
               [array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)]
             )) AS gram
      FROM words WHERE len(w) >= 3
    ),
    pg AS (SELECT source, gram, count(*) AS n_docs FROM sh GROUP BY 1, 2),
    tot AS (SELECT source, count(*) AS total FROM documents GROUP BY source)
    SELECT source, gram, n_docs,
           round(n_docs * 1.0 / total, 6) AS doc_frac
    FROM pg JOIN tot USING (source)
    WHERE n_docs >= total * 0.08
    ORDER BY n_docs * 1.0 / total DESC, source, gram
    LIMIT 20
    """,
)
def docs_boilerplate_ngrams(spark, sf_dir):
    """[EXT] Per-source boilerplate detection: trigrams present in >=8% of
    a source's documents — the template/disclaimer signal a cleaner strips
    before dedup (the analysis face of the hot-shingle cap). Per-source
    totals broadcast; top-20 cut ranked on the exact integer ratio
    (operators.text.boilerplate_ngrams)."""
    return text.boilerplate_ngrams(
        _t(spark, sf_dir, "documents"), n=3, min_frac=0.08, top_n=20
    )


@register(
    "docs_length_profile",
    """
    SELECT lang,
           count(*) AS n_docs,
           round(avg(n_chars), 6) AS mean_chars,
           round(stddev_samp(n_chars), 6) AS std_chars,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           round(quantile_cont(n_chars, 0.25), 6) AS p25,
           round(quantile_cont(n_chars, 0.50), 6) AS p50,
           round(quantile_cont(n_chars, 0.75), 6) AS p75,
           round(quantile_cont(n_chars, 0.90), 6) AS p90,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY lang
    """,
)
def docs_length_profile(spark, sf_dir):
    """[EXT] Per-language length profile (the describe() panel of a corpus
    quality dashboard): count/mean/std plus EXACT linear-interpolated
    percentiles — Spark `percentile` and DuckDB `quantile_cont` share the
    interpolation definition, verified bit-equal on the fixtures. Exact
    percentiles sort within groups; at 100 TB swap to approx_percentile
    and relax the oracle (the approx variant is events_approx_stats)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("mean_chars"),
        F.round(F.stddev_samp("n_chars"), 6).alias("std_chars"),
        F.min("n_chars").alias("min_chars"),
        F.round(F.expr("percentile(n_chars, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(n_chars, 0.50)"), 6).alias("p50"),
        F.round(F.expr("percentile(n_chars, 0.75)"), 6).alias("p75"),
        F.round(F.expr("percentile(n_chars, 0.90)"), 6).alias("p90"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "customer_rfm_segments",
    """
    WITH rfm AS (
      SELECT o_custkey,
             date_diff('day', max(o_orderdate), CAST('2001-01-01' AS TIMESTAMP))
               AS recency_days,
             count(*) AS frequency,
             round(sum(o_totalprice), 4) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    cuts AS (
      SELECT quantile_cont(recency_days, [0.25, 0.5, 0.75]) AS rc,
             quantile_cont(frequency, [0.25, 0.5, 0.75]) AS fc,
             quantile_cont(monetary, [0.25, 0.5, 0.75]) AS mc
      FROM rfm
    ),
    scored AS (
      SELECT o_custkey, monetary,
             1 + CAST(recency_days > rc[1] AS INT)
               + CAST(recency_days > rc[2] AS INT)
               + CAST(recency_days > rc[3] AS INT) AS r_quartile,
             1 + CAST(frequency < fc[3] AS INT)
               + CAST(frequency < fc[2] AS INT)
               + CAST(frequency < fc[1] AS INT) AS f_quartile,
             1 + CAST(monetary < mc[3] AS INT)
               + CAST(monetary < mc[2] AS INT)
               + CAST(monetary < mc[1] AS INT) AS m_quartile
      FROM rfm, cuts
    )
    SELECT r_quartile, f_quartile, m_quartile,
           count(*) AS n_customers,
           round(avg(monetary), 6) AS avg_monetary
    FROM scored GROUP BY 1, 2, 3
    """,
)
def customer_rfm_segments(spark, sf_dir):
    """[EXT] RFM segmentation rolled up to segment sizes. Quartiles are
    assigned from exact percentile CUT POINTS — one 9-value `percentile`
    aggregate over the per-customer frame, broadcast back for
    comparison-based bucketing — instead of three global ntile windows,
    each of which would move all |customers| rows (150M+ at 100x TPC-H)
    through a single-task SORT. Value-based semantics: quartile 1 is the
    best bucket on each axis (most recent / most frequent / highest spend);
    ties share a bucket. Exact `percentile` is bit-equal to DuckDB
    `quantile_cont` (the oracle contract) but buffers a value->count map
    whose final merge is O(distinct values) memory — at 100 TB swap it for
    `approx_percentile` with identical assignment logic (cut values become
    sketch-approximate; see customer_spend_quartiles for the same note)."""
    o = _t(spark, sf_dir, "orders")
    ref = F.lit("2001-01-01").cast("timestamp")
    rfm = o.groupBy("o_custkey").agg(
        F.datediff(ref, F.max("o_orderdate")).alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("o_totalprice"), 4).alias("monetary"),
    )
    cuts = rfm.agg(
        F.expr("percentile(recency_days, array(0.25, 0.5, 0.75))").alias("rc"),
        F.expr("percentile(frequency, array(0.25, 0.5, 0.75))").alias("fc"),
        F.expr("percentile(monetary, array(0.25, 0.5, 0.75))").alias("mc"),
    )

    def _asc_bucket(v, c):  # larger value -> later bucket
        return (
            F.lit(1)
            + (v > c[0]).cast("int")
            + (v > c[1]).cast("int")
            + (v > c[2]).cast("int")
        )

    def _desc_bucket(v, c):  # larger value -> bucket 1
        return (
            F.lit(1)
            + (v < c[2]).cast("int")
            + (v < c[1]).cast("int")
            + (v < c[0]).cast("int")
        )

    scored = rfm.crossJoin(F.broadcast(cuts)).select(
        "monetary",
        _asc_bucket(F.col("recency_days"), F.col("rc")).alias("r_quartile"),
        _desc_bucket(F.col("frequency"), F.col("fc")).alias("f_quartile"),
        _desc_bucket(F.col("monetary"), F.col("mc")).alias("m_quartile"),
    )
    return scored.groupBy("r_quartile", "f_quartile", "m_quartile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.avg("monetary"), 6).alias("avg_monetary"),
    )


@register(
    "events_markov_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type AS src,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS dst
      FROM events
    ),
    t AS (
      SELECT src, dst, count(*) AS n
      FROM seq WHERE dst IS NOT NULL GROUP BY src, dst
    )
    SELECT src, dst, n,
           round(n * 1.0 / sum(n) OVER (PARTITION BY src), 6) AS p
    FROM t
    """,
)
def events_markov_transitions(spark, sf_dir):
    """[EXT] First-order event-type transition matrix from per-user
    sequences — the behavioral-modeling prep of a clickstream pipeline.
    One user-keyed window (the sequence shuffle), one pair aggregate; the
    normalizing window runs over the |types|^2 transition frame, not the
    event log."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    t = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    wn = Window.partitionBy("src")
    return t.select(
        "src", "dst", "n",
        F.round(F.col("n") / F.sum("n").over(wn), 6).alias("p"),
    )


@register(
    "customer_cohort_ltv",
    """
    WITH firsts AS (
      SELECT o_custkey,
             CAST(min(year(o_orderdate)) AS INT) AS cohort_year
      FROM orders GROUP BY o_custkey
    ),
    spend AS (
      SELECT f.cohort_year, CAST(year(o.o_orderdate) AS INT) AS order_year,
             CAST(sum(1) AS BIGINT) AS n_orders,
             round(sum(o.o_totalprice), 4) AS revenue
      FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
      GROUP BY 1, 2
    )
    SELECT cohort_year, order_year, n_orders, revenue,
           round(sum(revenue) OVER (
             PARTITION BY cohort_year ORDER BY order_year
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 4) AS cum_revenue
    FROM spend
    """,
)
def customer_cohort_ltv(spark, sf_dir):
    """[EXT] Cohort lifetime value: customers grouped by first-order year,
    revenue tracked per subsequent year with a cumulative sum — the LTV
    curve panel. The cohort map is one aggregate (AQE-broadcastable), the
    cumulative window runs over the tiny cohort x year frame. The window
    sums the 4dp-ROUNDED yearly revenue so both engines accumulate
    identical doubles."""
    o = _t(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.min(F.year("o_orderdate")).cast("int").alias("cohort_year")
    )
    spend = (
        o.join(firsts, "o_custkey")
        .groupBy("cohort_year", F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        )
    )
    w = (
        Window.partitionBy("cohort_year")
        .orderBy("order_year")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return spend.select(
        "cohort_year", "order_year", "n_orders", "revenue",
        F.round(F.sum("revenue").over(w), 4).alias("cum_revenue"),
    )


@register(
    "events_error_runs",
    """
    WITH marked AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               - row_number() OVER (
                   PARTITION BY user_id, event_type ORDER BY ts, event_id
                 ) AS grp
      FROM events
    ),
    runs AS (
      SELECT user_id, count(*) AS run_len
      FROM marked WHERE event_type = 'error'
      GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(max(run_len) AS BIGINT) AS longest_error_run,
           CAST(count(*) AS BIGINT) AS n_error_runs
    FROM runs GROUP BY user_id
    """,
)
def events_error_runs(spark, sf_dir):
    """[EXT] Gaps-and-islands: longest consecutive error streak per user
    (the alerting signal "N errors in a row"). The row_number-difference
    trick turns runs into group keys with two windows sharing ONE
    user-keyed shuffle; everything after is integer aggregation."""
    ev = _t(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id",
        "event_type",
        (F.row_number().over(w_all) - F.row_number().over(w_type)).alias("grp"),
    )
    runs = (
        marked.filter(F.col("event_type") == "error")
        .groupBy("user_id", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    return runs.groupBy("user_id").agg(
        F.max("run_len").alias("longest_error_run"),
        F.count(F.lit(1)).alias("n_error_runs"),
    )


@register(
    "corpus_zipf_fit",
    f"""
    WITH words AS (
      SELECT unnest(regexp_split_to_array({_NORM_SQL}, ' ')) AS word
      FROM documents
    ),
    freq AS (
      SELECT word, count(*) AS n FROM words WHERE word <> '' GROUP BY word
    ),
    ranked AS (
      SELECT n, row_number() OVER (ORDER BY n DESC, word) AS rank
      FROM freq QUALIFY row_number() OVER (ORDER BY n DESC, word) <= 100
    )
    SELECT CAST(count(*) AS BIGINT) AS n_terms,
           round(regr_slope(ln(n), ln(rank)), 6) AS zipf_slope,
           round(regr_intercept(ln(n), ln(rank)), 6) AS zipf_intercept
    FROM ranked
    """,
)
def corpus_zipf_fit(spark, sf_dir):
    """[EXT] Zipf rank-frequency fit over the top-100 terms: built-in
    least-squares aggregates (regr_slope/regr_intercept) on ln(freq) vs
    ln(rank) — the sanity panel that flags synthetic or boilerplate-heavy
    corpora (natural text slopes near -1). Rank cut is deterministic
    (integer count, word tiebreak). Scale shape: the cut is a distributed
    ``orderBy(...).limit(100)`` (TakeOrderedAndProject — each task keeps a
    100-row heap; no full-vocabulary sort), mirroring
    ``text.tfidf_top_terms``; only the 100 survivors pass through the
    rank assignment, which is a 100-element ``posexplode`` over one
    collected array — no WindowExec anywhere in the plan."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(text.normalize_text(F.col("text")), " ")).alias("word")
    ).filter(F.col("word") != "")
    freq = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    top = freq.orderBy(F.desc("n"), F.col("word")).limit(100)
    # rank = 1 + position in the (n DESC, word ASC) order, assigned by
    # posexplode over one sorted 100-element array (negated count makes
    # array_sort's ascending struct order equal the rank order)
    ranked = (
        top.agg(
            F.array_sort(
                F.collect_list(F.struct((-F.col("n")).alias("_negn"), F.col("word")))
            ).alias("_a")
        )
        .select(F.posexplode("_a").alias("_r0", "_s"))
        .select(
            (-F.col("_s._negn")).alias("n"), (F.col("_r0") + 1).alias("rank")
        )
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(F.regr_slope(F.log("n"), F.log("rank")), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(F.log("n"), F.log("rank")), 6).alias("zipf_intercept"),
    )


@register(
    "docs_vocab_coverage",
    f"""
    WITH tok AS (
      SELECT doc_id, word FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array({_NORM_SQL}, ' ')) AS word
        FROM documents WHERE length({_NORM_SQL}) > 0
      ) WHERE word <> ''
    ),
    vocab AS (
      SELECT word FROM tok GROUP BY word
      ORDER BY count(*) DESC, word LIMIT 100
    )
    SELECT t.doc_id, count(*) AS n_tokens,
           count(CASE WHEN v.word IS NULL THEN 1 END) AS n_oov,
           round(count(CASE WHEN v.word IS NULL THEN 1 END) * 1.0 / count(*), 6)
             AS oov_rate
    FROM tok t LEFT JOIN vocab v ON t.word = v.word
    GROUP BY t.doc_id
    """,
)
def docs_vocab_coverage(spark, sf_dir):
    """[EXT] Per-document OOV rate against the corpus top-100 vocabulary
    (operators.text.vocab_coverage): the tokenizer-fit diagnostic of a
    training pipeline. The vocabulary is a bounded top-k
    (TakeOrderedAndProject) broadcast back over the token stream; the only
    full-size shuffle is the per-document aggregate."""
    docs = _t(spark, sf_dir, "documents")
    return text.vocab_coverage(docs, top_k=100)


@register(
    "docs_weighted_sample",
    """
    SELECT doc_id, source, n_chars FROM (
      SELECT doc_id, source, n_chars,
             -ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                  % 1000000 + 1) / 1000001.0) / n_chars AS es_key
      FROM documents
    ) ORDER BY es_key, doc_id LIMIT 25
    """,
)
def docs_weighted_sample(spark, sf_dir):
    """[EXT] Efraimidis-Spirakis weighted sampling without replacement
    (operators.text.weighted_sample): char-count-weighted, seedless — the
    md5-uniform key makes the sample identical across engines, reruns, and
    partitionings. One distributed top-k, no global sort."""
    docs = _t(spark, sf_dir, "documents")
    return text.weighted_sample(docs, weight_col="n_chars", k=25).select(
        "doc_id", "source", "n_chars"
    )


@register(
    "orders_in_flight_daily",
    """
    WITH iv AS (
      SELECT o.o_orderkey,
             CAST(o.o_orderdate AS DATE) AS start_day,
             CAST(max(l.l_shipdate) AS DATE) AS end_day
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate
    ),
    deltas AS (
      SELECT day, CAST(sum(delta) AS BIGINT) AS delta FROM (
        SELECT start_day AS day, 1 AS delta FROM iv
        UNION ALL
        SELECT end_day + 1 AS day, -1 AS delta FROM iv
      ) GROUP BY day
    )
    SELECT day, CAST(sum(delta) OVER (ORDER BY day) AS BIGINT) AS in_flight
    FROM deltas
    """,
)
def orders_in_flight_daily(spark, sf_dir):
    """[EXT] Sweep-line interval concurrency
    (operators.temporal.interval_concurrency_daily): per day, how many
    orders are in flight (placed but not yet fully shipped — interval
    o_orderdate .. max lineitem shipdate, inclusive). Deltas are
    aggregated per day BEFORE the running sum, so the unpartitioned
    cumulative window runs over the bounded day table, not the raw rows."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    iv = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("end_ts"))
    )
    return temporal.interval_concurrency_daily(
        iv, "o_orderdate", "end_ts"
    ).withColumnRenamed("concurrent", "in_flight")


_PR_N = "(SELECT n FROM nn)"


@register(
    "supplier_pagerank",
    f"""
    WITH sp0 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    sp AS (
      SELECT p, s FROM sp0
      QUALIFY count(*) OVER (PARTITION BY p) <= 100
    ),
    e AS (
      SELECT a.s AS src, b.s AS dst, CAST(count(*) AS DOUBLE) AS w
      FROM sp a JOIN sp b ON a.p = b.p AND a.s <> b.s
      GROUP BY a.s, b.s
    ),
    st AS (SELECT src, sum(w) AS strength FROM e GROUP BY src),
    nn AS (SELECT count(*) AS n FROM supplier),
    r0 AS (SELECT s_suppkey AS node, 1.0 / {_PR_N} AS pr FROM supplier),
    c1 AS (
      SELECT e.dst AS node, sum(r.pr * e.w / st.strength) AS c
      FROM e JOIN r0 r ON e.src = r.node JOIN st ON e.src = st.src
      GROUP BY e.dst
    ),
    r1 AS (
      SELECT r.node, 0.15 / {_PR_N} + 0.85 * coalesce(c1.c, 0) AS pr
      FROM r0 r LEFT JOIN c1 ON r.node = c1.node
    ),
    c2 AS (
      SELECT e.dst AS node, sum(r.pr * e.w / st.strength) AS c
      FROM e JOIN r1 r ON e.src = r.node JOIN st ON e.src = st.src
      GROUP BY e.dst
    ),
    r2 AS (
      SELECT r.node, 0.15 / {_PR_N} + 0.85 * coalesce(c2.c, 0) AS pr
      FROM r1 r LEFT JOIN c2 ON r.node = c2.node
    ),
    c3 AS (
      SELECT e.dst AS node, sum(r.pr * e.w / st.strength) AS c
      FROM e JOIN r2 r ON e.src = r.node JOIN st ON e.src = st.src
      GROUP BY e.dst
    ),
    r3 AS (
      SELECT r.node, 0.15 / {_PR_N} + 0.85 * coalesce(c3.c, 0) AS pr
      FROM r2 r LEFT JOIN c3 ON r.node = c3.node
    )
    SELECT node AS s_suppkey, round(pr, 6) AS pr FROM r3
    """,
)
def supplier_pagerank(spark, sf_dir):
    """[EXT] Weighted PageRank (3 iterations, d=0.85) over the supplier
    co-supply graph — edge weight = number of distinct shared parts
    (operators.graph.pagerank). The oracle unrolls the identical power
    iteration in SQL. Scale shape: the edge build goes through
    ``graph.cooccurrence_edges`` with ``max_key_degree=100`` — the real
    hot-key df-cap (count window on the part key, hot parts dropped from
    the self-join), mirroring the hot-shingle cap in
    ``dedup.ngram_jaccard_pairs``; without it one hot part with 1e5
    suppliers is a 1e10-pair stage. The oracle applies the identical
    QUALIFY cap (inert on TPC-H's ~4 suppliers/part). Each iteration is
    one join + one aggregate with the cached edge list reused
    throughout."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    sp = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    edges = graph.cooccurrence_edges(sp, key_col="p", node_col="s", max_key_degree=100)
    nodes = sup.select(F.col("s_suppkey").alias("node"))
    pr = graph.pagerank(edges, nodes, iterations=3, damping=0.85, weight="w")
    return pr.select(F.col("node").alias("s_suppkey"), F.round("pr", 6).alias("pr"))


@register(
    "orders_quality_report",
    """
    SELECT 'totalprice_positive' AS rule,
           count(CASE WHEN NOT (o_totalprice > 0) THEN 1 END) AS violations,
           round(count(CASE WHEN NOT (o_totalprice > 0) THEN 1 END) * 1.0
                 / count(*), 6) AS violation_ratio
    FROM orders
    UNION ALL
    SELECT 'orderdate_not_null',
           count(CASE WHEN NOT (o_orderdate IS NOT NULL) THEN 1 END),
           round(count(CASE WHEN NOT (o_orderdate IS NOT NULL) THEN 1 END)
                 * 1.0 / count(*), 6)
    FROM orders
    UNION ALL
    SELECT 'status_known',
           count(CASE WHEN NOT (o_orderstatus IN ('O', 'F', 'P')) THEN 1 END),
           round(count(CASE WHEN NOT (o_orderstatus IN ('O', 'F', 'P')) THEN 1
                 END) * 1.0 / count(*), 6)
    FROM orders
    UNION ALL
    SELECT 'unique(o_orderkey)',
           count(*) - count(DISTINCT o_orderkey),
           round((count(*) - count(DISTINCT o_orderkey)) * 1.0 / count(*), 6)
    FROM orders
    """,
)
def orders_quality_report(spark, sf_dir):
    """Declarative data-quality report (pipeline.quality.report_df) — the
    validation gate of the reference's ingest run expressed as a query:
    every row-predicate rule shares ONE conditional-count aggregation pass
    (stack-unpivoted to a row per rule); only the declared uniqueness rule
    pays a count-distinct shuffle."""
    from bigdataingestion_spark.pipeline.quality import Expectation, report_df

    o = _t(spark, sf_dir, "orders")
    rules = [
        Expectation("totalprice_positive", F.col("o_totalprice") > 0),
        Expectation("orderdate_not_null", F.col("o_orderdate").isNotNull()),
        Expectation("status_known", F.col("o_orderstatus").isin("O", "F", "P")),
    ]
    return report_df(o, rules, unique_cols=["o_orderkey"])


_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@register(
    "lineitem_column_profile",
    "\nUNION ALL\n".join(
        f"""
    SELECT '{c}' AS col_name, count({c}) AS n_values,
           count(DISTINCT {c}) AS n_distinct,
           round(min(CAST({c} AS DOUBLE)), 6) AS vmin,
           round(max(CAST({c} AS DOUBLE)), 6) AS vmax,
           round(avg(CAST({c} AS DOUBLE)), 4) AS vavg
    FROM lineitem
    """
        for c in _PROFILE_COLS
    ),
)
def lineitem_column_profile(spark, sf_dir):
    """Column-level profiling (Deequ/analyzer-style): per numeric column
    count, exact distinct, min/max/mean — one stack-unpivot pass then a
    groupBy on the 4-row column-name key. The unpivot keeps it a single
    scan of the fact table regardless of how many columns are profiled."""
    li = _t(spark, sf_dir, "lineitem")
    pairs = ", ".join(f"'{c}', cast({c} as double)" for c in _PROFILE_COLS)
    unpivoted = li.select(
        F.expr(f"stack({len(_PROFILE_COLS)}, {pairs}) AS (col_name, val)")
    )
    return unpivoted.groupBy("col_name").agg(
        F.count("val").alias("n_values"),
        F.countDistinct("val").alias("n_distinct"),
        F.round(F.min("val"), 6).alias("vmin"),
        F.round(F.max("val"), 6).alias("vmax"),
        F.round(F.avg("val"), 4).alias("vavg"),
    )


@register(
    "user_value_ewma",
    """
    WITH recent AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE value IS NOT NULL
    )
    SELECT user_id, count(*) AS n_recent,
           round(sum(value * power(0.8, rn - 1))
                 / sum(power(0.8, rn - 1)), 4) AS ewma_value
    FROM recent WHERE rn <= 10
    GROUP BY user_id
    """,
)
def user_value_ewma(spark, sf_dir):
    """[EXT] Exponentially-weighted moving average of each user's last 10
    event values (decay 0.8) — the recency-weighted feature a
    personalization pipeline derives per entity. One window partitioned by
    user (rank newest-first), then an ordinary grouped weighted average:
    partition-parallel at any user count, frame bounded at 10 rows."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    weight = F.pow(F.lit(0.8), F.col("rn") - 1)
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_recent"),
            F.round(
                F.sum(F.col("value") * weight) / F.sum(weight), 4
            ).alias("ewma_value"),
        )
    )


@register(
    "orders_benford_digits",
    """
    SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
             AS digit,
           count(*) AS n_orders,
           round(count(*) * 1.0 / sum(count(*)) OVER (), 4) AS observed_pct,
           round(log10(1 + 1.0 / substr(CAST(CAST(floor(o_totalprice) AS
             BIGINT) AS VARCHAR), 1, 1)::INT), 4) AS benford_pct
    FROM orders WHERE o_totalprice >= 1
    GROUP BY 1
    """,
)
def orders_benford_digits(spark, sf_dir):
    """[EXT] Benford first-digit profile of order totals vs the theoretical
    log10(1+1/d) distribution — the classic anomaly/fraud screen a data
    auditor runs over monetary columns. Digit extraction goes through
    floor -> BIGINT -> string so it is integer-exact in both engines (a
    double->decimal rounding path could flip a boundary digit). One
    groupBy on a 9-value key; the percent-of-total is a window over the
    9-row aggregate."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    )
    agg = o.groupBy(digit.alias("digit")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    return agg.select(
        "digit",
        "n_orders",
        F.round(
            F.col("n_orders") / F.sum("n_orders").over(Window.partitionBy()), 4
        ).alias("observed_pct"),
        F.round(
            F.log10(1 + 1.0 / F.col("digit").cast("int")), 4
        ).alias("benford_pct"),
    )


@register(
    "lineitem_price_quantity_stats",
    """
    SELECT l_returnflag,
           count(*) AS n,
           round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
           round(covar_samp(l_quantity, l_discount), 4) AS qty_disc_covar,
           round(stddev_samp(l_extendedprice), 2) AS price_stddev
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def lineitem_price_quantity_stats(spark, sf_dir):
    """[EXT] Bivariate statistics per return flag: Pearson correlation,
    sample covariance, and stddev — single-pass moment aggregates with
    map-side partials (Spark and DuckDB both stream the co-moments, so
    one shuffle of 3 groups regardless of row count). Rounding absorbs
    engine summation-order noise in the higher moments."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias(
            "qty_price_corr"
        ),
        F.round(F.covar_samp("l_quantity", "l_discount"), 4).alias(
            "qty_disc_covar"
        ),
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("price_stddev"),
    )


@register(
    "events_dow_hour_profile",
    """
    SELECT CAST(isodow(ts) AS INT) AS iso_dow,
           CAST(hour(ts) AS INT) AS hr,
           count(*) AS n_events,
           round(avg(value), 4) AS avg_value
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2
    """,
)
def events_dow_hour_profile(spark, sf_dir):
    """[EXT] Weekly activity heatmap: events by ISO day-of-week x hour.
    Portability trap handled explicitly: Spark's dayofweek() is
    1=Sunday while DuckDB's isodow() is 1=Monday — weekday()+1 IS
    ISO dow on the Spark side, so both engines bucket identically.
    One groupBy on a 168-value key; partial aggregation does the work
    map-side at any scale."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return ev.groupBy(
        (F.weekday("ts") + 1).cast("int").alias("iso_dow"),
        F.hour("ts").cast("int").alias("hr"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )


def _fresh_txlog():
    """A txlog table under a fresh system temp dir for the lake-DML
    queries below: they BUILD a transactional table from fixture data,
    run DML against it, and return the read-back state (the oracle
    expresses the same final state relationally over the raw fixture).
    The dir is left for the OS tmp reaper — the returned DataFrame is
    lazy, so the files must outlive this function."""
    import tempfile

    from bigdataingestion_spark.sinks.txlog import TxLogTable

    return TxLogTable(
        os.path.join(tempfile.mkdtemp(prefix="txlog-q-"), "t")
    )


@register(
    "txlog_backfill_replace",
    """
    WITH repriced AS (
      SELECT o_orderpriority,
             CASE WHEN o_orderpriority = '1-URGENT'
                  THEN o_totalprice * 0.9 ELSE o_totalprice END AS price
      FROM orders
    )
    SELECT o_orderpriority, count(*) AS n_orders,
           round(sum(price), 2) AS total_price
    FROM repriced GROUP BY o_orderpriority
    """,
)
def txlog_backfill_replace(spark, sf_dir):
    """[EXT] The idempotent-backfill pipeline on the txlog lake format:
    land orders into a transactional table, then ``replace_where``
    re-prices every URGENT order at 90% in ONE atomic commit — the
    "recompute March" shape where only files holding matching rows are
    rewritten (min/max-pruned finding scan) and a reader never sees a
    half-replaced range. Returns the post-backfill per-priority totals;
    the oracle computes the same final state relationally."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    t = _fresh_txlog()
    t.append(orders)
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    t.replace_where(
        spark,
        urgent.withColumn("o_totalprice", F.col("o_totalprice") * 0.9),
        "o_orderpriority = '1-URGENT'",
    )
    return (
        t.read(spark)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@register(
    "txlog_rename_migration",
    """
    WITH unioned AS (
      SELECT l_returnflag AS flag, l_quantity FROM lineitem
      UNION ALL
      SELECT l_returnflag AS flag, l_quantity FROM lineitem
      WHERE l_linenumber = 1
    )
    SELECT flag, count(*) AS n_rows, round(sum(l_quantity), 4) AS sum_qty
    FROM unioned GROUP BY flag
    """,
)
def txlog_rename_migration(spark, sf_dir):
    """[EXT] Schema migration under column mapping: land lineitem, enable
    mapping, RENAME l_returnflag -> flag as a METADATA-ONLY commit (zero
    files rewritten — the 100 TB rename story), then append a second
    batch that already uses the new name. Both eras of files — written
    under different logical names, same frozen physical name — aggregate
    together under the post-rename schema."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )
    t = _fresh_txlog()
    t.append(li.drop("l_linenumber"))
    t.enable_column_mapping()
    t.rename_column("l_returnflag", "flag")
    batch2 = li.filter(F.col("l_linenumber") == 1).select(
        "l_orderkey",
        "l_quantity",
        F.col("l_returnflag").alias("flag"),
    )
    t.append(batch2)
    return (
        t.read(spark)
        .groupBy("flag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        )
    )


@register(
    "txlog_cdf_audit",
    """
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
      FROM orders WHERE o_orderkey % 5 = 0
    ),
    deleted AS (SELECT o_totalprice FROM base WHERE o_orderstatus = 'F'),
    surviving AS (SELECT * FROM base WHERE o_orderstatus <> 'F'),
    upd AS (SELECT o_totalprice FROM surviving
            WHERE o_orderpriority = '1-URGENT'),
    changes AS (
      SELECT 'delete' AS _change_type, o_totalprice AS price FROM deleted
      UNION ALL
      SELECT 'update_preimage', o_totalprice FROM upd
      UNION ALL
      SELECT 'update_postimage', o_totalprice * 1.1 FROM upd
    )
    SELECT _change_type, count(*) AS n_rows,
           round(sum(price), 2) AS total_price
    FROM changes GROUP BY _change_type
    """,
)
def txlog_cdf_audit(spark, sf_dir):
    """[EXT] Change-data-feed audit on the lake format: land an orders
    slice with CDF enabled, DELETE the finished orders, UPDATE urgent
    prices +10%, then read the row-level change feed (materialized at
    commit time — reconstructing it later is impossible once rewrites
    diverge) and aggregate it per change type. The oracle recomputes the
    same change set relationally from the raw fixture."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 5 == 0
    ).select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    t = _fresh_txlog()
    t.append(orders)
    t.alter_properties({"cdf.enabled": "true"})
    v0 = t.version()
    t.delete(spark, "o_orderstatus = 'F'")
    t.update(
        spark,
        "o_orderpriority = '1-URGENT'",
        {"o_totalprice": "o_totalprice * 1.1"},
    )
    return (
        t.read_cdf(spark, from_version=v0)
        .groupBy("_change_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@register(
    "txlog_generated_bucket",
    """
    SELECT CAST(event_id % 24 AS BIGINT) AS bucket,
           count(*) AS n_events,
           round(avg(value), 4) AS avg_value
    FROM events WHERE value IS NOT NULL
    GROUP BY 1
    """,
)
def txlog_generated_bucket(spark, sf_dir):
    """[EXT] Generated-column contract on the lake format: declare
    bucket GENERATED ALWAYS AS (event_id % 24) on an empty table, land
    events WITHOUT the column (the table computes it), and aggregate by
    the generated key — the derived-partition-key pattern where the
    bucket stays consistent by table contract, not writer discipline."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select("event_id", "value")
    t = _fresh_txlog()
    t.append(ev.limit(0))  # establish the schema, stay empty
    t.add_generated_column(spark, "bucket", "event_id % 24")
    t.append(ev)
    return (
        t.read(spark)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


@register(
    "txlog_dv_point_delete",
    """
    SELECT event_type, count(*) AS n_events
    FROM events
    WHERE user_id IS NULL OR user_id % 97 <> 13
    GROUP BY event_type
    """,
)
def txlog_dv_point_delete(spark, sf_dir):
    """[EXT] GDPR-erasure shape on the lake format: land events with a
    bloom index on the (unclustered, high-cardinality) user_id, then
    DELETE one user cohort via DELETION VECTORS — merge-on-read masks
    recorded per file instead of rewriting gigabytes for a sparse
    delete. The read-back applies the masks; rows where the predicate
    is NULL are kept (SQL three-valued DELETE), which the oracle
    mirrors explicitly."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    t = _fresh_txlog()
    t.alter_properties({"bloom.columns": "user_id"})
    t.append(ev)
    t.delete(spark, "user_id % 97 = 13", deletion_vectors=True)
    return (
        t.read(spark)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "txlog_nested_rename",
    """
    WITH unioned AS (
      SELECT o_orderstatus AS status, o_totalprice AS price FROM orders
      UNION ALL
      SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT status, count(*) AS n_rows, round(sum(price), 2) AS total_price
    FROM unioned GROUP BY status
    """,
)
def txlog_nested_rename(spark, sf_dir):
    """[EXT] NESTED schema migration under column mapping (r8): land
    orders with a struct column, enable mapping, rename a field INSIDE
    the struct (info.st -> info.status) as a METADATA-ONLY commit — the
    frozen physical leaf name keeps naming the parquet column and the
    read path restores logical names with a positional cast, zero files
    rewritten — then append a second era already using the new nested
    name. Both file generations aggregate together by the nested key."""
    ord_ = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.struct(
            F.col("o_orderstatus").alias("st"),
            F.col("o_totalprice").alias("price"),
        ).alias("info"),
    )
    t = _fresh_txlog()
    t.append(ord_)
    t.enable_column_mapping()
    t.rename_column("info.st", "status")
    batch2 = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 3 == 0)
        .select(
            "o_orderkey",
            F.struct(
                F.col("o_orderstatus").alias("status"),
                F.col("o_totalprice").alias("price"),
            ).alias("info"),
        )
    )
    t.append(batch2)
    return (
        t.read(spark)
        .groupBy(F.col("info.status").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("info.price"), 2).alias("total_price"),
        )
    )


@register(
    "txlog_update_recompute",
    """
    WITH updated AS (
      SELECT CASE WHEN value > 400 THEN event_id + 1000000
                  ELSE event_id END AS event_id,
             value
      FROM events WHERE value IS NOT NULL
    )
    SELECT CAST(event_id % 24 AS BIGINT) AS bucket,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM updated GROUP BY 1
    """,
)
def txlog_update_recompute(spark, sf_dir):
    """[EXT] Delta-faithful UPDATE over a generated column (r8): bucket
    is GENERATED ALWAYS AS (event_id % 24); an UPDATE reassigns the
    generation INPUT with recompute=True, so the dependent bucket is
    recomputed from the post-image inside the same atomic rewrite
    (the default remains the conservative refusal). The oracle applies
    the update relationally and rederives the bucket."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_id", "value")
    )
    t = _fresh_txlog()
    t.append(ev.limit(0))  # establish the schema, stay empty
    t.add_generated_column(spark, "bucket", "event_id % 24")
    t.append(ev)
    t.update(
        spark,
        "value > 400",
        {"event_id": "event_id + 1000000"},
        recompute=True,
    )
    return (
        t.read(spark)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@register(
    "txlog_merge_conditional",
    """
    WITH src AS (
      SELECT o_orderkey, o_totalprice * 1.1 AS p_new
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    resolved AS (
      SELECT
        CASE WHEN s.o_orderkey IS NULL AND o.o_totalprice < 1000
             THEN 'X' ELSE o.o_orderstatus END AS o_orderstatus,
        CASE WHEN s.o_orderkey IS NOT NULL AND s.p_new > 200000
             THEN s.p_new ELSE o.o_totalprice END AS price,
        CASE WHEN s.o_orderkey IS NOT NULL AND s.p_new <= 200000
             THEN 1 ELSE 0 END AS dropped
      FROM orders o LEFT JOIN src s USING (o_orderkey)
    )
    SELECT o_orderstatus, count(*) AS n_orders,
           round(sum(price), 2) AS total_price
    FROM resolved WHERE dropped = 0 GROUP BY o_orderstatus
    """,
)
def txlog_merge_conditional(spark, sf_dir):
    """[EXT] Conditional MERGE (r9, sinks/txlog.py Table.merge): land
    orders into a transactional table, then ONE merge applies three
    clause categories — WHEN MATCHED UPDATE takes the repriced feed only
    above a threshold, the remaining matched rows fall through to WHEN
    MATCHED DELETE, and WHEN NOT MATCHED BY SOURCE UPDATE expires cheap
    rows the feed stopped mentioning. Only files a clause actually
    fired for are rewritten (stats-pruned finding scan). The oracle
    resolves the same clauses relationally over the raw fixture."""
    from bigdataingestion_spark.sinks.merge_clauses import (
        when_matched_delete,
        when_matched_update,
        when_not_matched_by_source_update,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = _fresh_txlog()
    t.append(orders)
    src = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", (F.col("o_totalprice") * 1.1).alias("p_new")
    )
    t.merge(
        spark,
        src,
        ["o_orderkey"],
        [
            when_matched_update(
                set={"o_totalprice": "s.p_new"},
                condition="s.p_new > 200000",
            ),
            when_matched_delete(),
            when_not_matched_by_source_update(
                set={"o_orderstatus": "'X'"},
                condition="o_totalprice < 1000",
            ),
        ],
    )
    return (
        t.read(spark)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@register(
    "txlog_identity_assign",
    """
    WITH n AS (SELECT count(*) AS c FROM customer)
    SELECT CAST(c AS BIGINT) AS n_rows,
           CAST(c AS BIGINT) AS n_ids,
           CAST(1 AS BIGINT) AS min_id,
           CAST(c AS BIGINT) AS max_id,
           CAST(c * (c + 1) / 2 AS BIGINT) AS id_sum
    FROM n
    """,
)
def txlog_identity_assign(spark, sf_dir):
    """[EXT] Identity columns (r9): row_id is GENERATED ALWAYS AS
    IDENTITY; two appends allocate table-owned unique BIGINTs entirely
    JVM-side (per-partition slot ranges under one transactional
    high-water mark — no shuffle, no driver row traffic). Which row got
    which id is partition-dependent by contract, but the allocated SET
    is exactly 1..N across the two batches, so the count/min/max/sum
    profile is deterministic — precisely the invariant the oracle states
    in closed form."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    t = _fresh_txlog()
    t.append(
        cust.limit(0).select(
            F.col("c_custkey").cast("long").alias("row_id"), "c_name"
        )
    )
    t.add_identity_column(spark, "row_id")
    half = cust.agg(F.expr("percentile(c_custkey, 0.5)")).first()[0]
    t.append(cust.filter(F.col("c_custkey") <= half).select("c_name"))
    t.append(cust.filter(F.col("c_custkey") > half).select("c_name"))
    return t.read(spark).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("row_id").alias("n_ids"),
        F.min("row_id").alias("min_id"),
        F.max("row_id").alias("max_id"),
        F.sum("row_id").alias("id_sum"),
    )


@register(
    "txlog_cdc_ops_final_state",
    """
    WITH feed AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice, 'I' AS op, 1 AS seq
      FROM orders WHERE o_orderkey % 5 = 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice * 1.1, 'U', 2
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice, 'D', 3
      FROM orders WHERE o_orderkey % 15 = 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice + 5, 'U', 4
      FROM orders WHERE o_orderkey % 5 = 1
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice * 2, 'I', 5
      FROM orders WHERE o_orderkey % 30 = 0
    ),
    latest AS (
      SELECT *, row_number() OVER (
        PARTITION BY o_orderkey ORDER BY seq DESC
      ) AS rn FROM feed
    )
    SELECT o_orderkey, o_orderstatus,
           round(o_totalprice, 4) AS o_totalprice
    FROM latest WHERE rn = 1 AND op <> 'D'
    """,
)
def txlog_cdc_ops_final_state(spark, sf_dir):
    """[EXT] Op-coded CDC apply end-to-end (r10, VERDICT item 3):
    a three-batch Debezium-style I/U/D feed derived from the orders
    fixture is streamed one file per micro-batch through
    ``streaming.ingest.stream_cdc_apply_ops`` — each batch ONE
    conditional-MERGE commit (matched+D -> DELETE, matched -> UPDATE *,
    not-matched+non-D -> INSERT *), with ``order_cols`` collapsing
    multi-event keys (batch 2 carries U then D for the same keys) to
    log-compaction semantics. The final table must equal the oracle's
    relational replay: latest event per key, tombstones absent —
    including keys deleted in batch 2 and RE-inserted in batch 3."""
    import tempfile
    import time as _time

    from bigdataingestion_spark.streaming.ingest import stream_cdc_apply_ops

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")

    def ev(pred, price, op, seq):
        return orders.filter(pred).select(
            "o_orderkey",
            "o_orderstatus",
            price.alias("o_totalprice"),
            F.lit(op).alias("op"),
            F.lit(seq).cast("int").alias("seq"),
        )

    p = F.col("o_totalprice")
    batches = [
        ev(k % 5 == 0, p, "I", 1),
        ev(k % 10 == 0, p * 1.1, "U", 2)
        .unionByName(ev(k % 15 == 0, p, "D", 3))
        .unionByName(ev(k % 5 == 1, p + 5, "U", 4)),
        ev(k % 30 == 0, p * 2, "I", 5),
    ]
    work = tempfile.mkdtemp(prefix="bdi_cdcops_")
    landing = os.path.join(work, "landing")
    os.makedirs(landing)
    now = _time.time()
    for i, b in enumerate(batches):
        stage = os.path.join(work, f"stage{i}")
        b.coalesce(1).write.parquet(stage)
        part = next(
            f for f in os.listdir(stage)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        dst = os.path.join(landing, f"batch-{i}.parquet")
        os.rename(os.path.join(stage, part), dst)
        # the file source processes oldest-mtime first: pin arrival order
        os.utime(dst, (now + 10 * i, now + 10 * i))
    target = os.path.join(work, "state")
    q = stream_cdc_apply_ops(
        spark,
        landing,
        target,
        checkpoint_dir=os.path.join(work, "ckpt"),
        keys=["o_orderkey"],
        order_cols=["seq"],
    )
    q.awaitTermination(300)
    from bigdataingestion_spark.sinks.txlog import TxLogTable

    return (
        TxLogTable(target)
        .read(spark)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.round("o_totalprice", 4).alias("o_totalprice"),
        )
    )


@register(
    "txlog_auto_compact_invariance",
    """
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price,
           CAST(1 AS BIGINT) AS compaction_ran
    FROM orders GROUP BY o_orderstatus
    """,
)
def txlog_auto_compact_invariance(spark, sf_dir):
    """[EXT] Auto-compaction content invariance (r10, VERDICT item 4):
    orders ingested as six single-file appends with
    ``auto.compact.min.files=4`` — post-commit auto-compaction
    (sinks/txlog.py _maybe_auto_compact) MUST fire along the way and
    MUST NOT change table content; the result is the raw-orders rollup
    with ``compaction_ran`` proving the maintenance actually happened
    (best-effort failures would silently leave it 0 and fail the
    hash)."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = _fresh_txlog()
    t.append(orders.limit(0))
    t.alter_properties({"auto.compact.min.files": "4"})
    bounds = orders.agg(
        F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi")
    ).first()
    lo, hi = int(bounds["lo"]), int(bounds["hi"])
    width = (hi - lo) // 6 + 1
    for i in range(6):
        chunk = orders.filter(
            (F.col("o_orderkey") >= lo + i * width)
            & (F.col("o_orderkey") < lo + (i + 1) * width)
        )
        t.append(chunk.coalesce(1))
    ran = any(e["op"] == "compact" for e in t.history())
    return (
        t.read(spark)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .withColumn(
            "compaction_ran", F.lit(1 if ran else 0).cast("long")
        )
    )


@register(
    "txlog_matview_additive",
    """
    WITH base AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 1.1
                  ELSE o_totalprice END AS price
      FROM orders
      WHERE o_orderkey % 3 IN (0, 1) AND o_orderkey % 15 <> 0
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(price), 2) AS sum_price,
           round(avg(price), 4) AS avg_price
    FROM base GROUP BY o_orderstatus
    """,
)
def txlog_matview_additive(spark, sf_dir):
    """[EXT] Incremental materialized aggregate view, ADDITIVE path
    (r10, sinks/matview.py — the counting algorithm of incremental view
    maintenance, Gupta/Mumick/Subrahmanian SIGMOD 1993, on the lake's
    CDF + conditional MERGE): a count/sum/avg view grouped by order
    status is BUILT over the %3==0 third of orders, then the source
    takes an append (%3==1), an in-place price update (%10==0, x1.1)
    and a delete (%15==0); two refreshes fold the change feed into the
    view — per-group deltas from the CDF window, ONE merge commit each,
    the source never re-read (refresh cost O(|changes|), the 100 TB
    answer to the reference's per-load full re-aggregation). The final
    view must equal the oracle's from-scratch GROUP BY of the same
    final state."""
    import os as _os
    import tempfile as _tempfile

    from bigdataingestion_spark.sinks.matview import IncrementalAggView

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    src = _fresh_txlog()
    src.append(orders.filter(k % 3 == 0))
    src.alter_properties({"cdf.enabled": "true"})
    mv = IncrementalAggView(
        src,
        _os.path.join(_tempfile.mkdtemp(prefix="txlog-mv-"), "mv"),
        ["o_orderstatus"],
        {
            "n_orders": ("count", "1"),
            "sum_price": ("sum", "o_totalprice"),
            "avg_price": ("avg", "o_totalprice"),
        },
        # pin the incremental path: this query IS the driver evidence
        # for the additive CDF refresh — at fixture scale the r11
        # cost-based fallback could legitimately pick build() instead,
        # which would leave the refresh arithmetic unexercised
        rebuild_ratio=None,
    )
    mv.build(spark)
    src.append(orders.filter(k % 3 == 1))
    mv.refresh(spark)
    src.update(spark, "o_orderkey % 10 = 0", {"o_totalprice": "o_totalprice * 1.1"})
    src.delete(spark, "o_orderkey % 15 = 0")
    mv.refresh(spark)
    ops = [h["op"] for h in mv.view.history()]
    # self-evidencing: the gate row must prove the INCREMENTAL path ran
    assert ops.count("merge") == 2, f"expected 2 refresh merges, got {ops}"
    return mv.read(spark).select(
        "o_orderstatus",
        "n_orders",
        F.round("sum_price", 2).alias("sum_price"),
        F.round("avg_price", 4).alias("avg_price"),
    )


@register(
    "txlog_matview_minmax",
    """
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey % 4 IN (0, 1, 2)
    ),
    survivors AS (
      SELECT * FROM base
      WHERE o_totalprice <= 400000 AND o_orderstatus <> 'P'
    ),
    upd AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 0.5
                  ELSE o_totalprice END AS price
      FROM survivors
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(min(price), 2) AS min_price,
           round(max(price), 2) AS max_price
    FROM upd GROUP BY o_orderstatus
    """,
)
def txlog_matview_minmax(spark, sf_dir):
    """[EXT] Incremental materialized view, RECOMPUTE path (r10,
    sinks/matview.py): min/max are not additive under deletes — a
    deleted extreme cannot be subtracted back out — so the refresh uses
    the CDF window only to name AFFECTED groups and re-derives those
    groups from the current source via one semi-join (cost O(|changes| +
    affected-group rows), never O(source)). Exercised at both edges:
    deleting every order above 400k LOWERS each group's max, deleting
    status 'P' entirely VANISHES that group's view row, and a
    half-price update (%7==0) moves minima; two refresh windows."""
    import os as _os
    import tempfile as _tempfile

    from bigdataingestion_spark.sinks.matview import IncrementalAggView

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    src = _fresh_txlog()
    src.append(orders.filter(F.col("o_orderkey") % 4 < 3))
    src.alter_properties({"cdf.enabled": "true"})
    mv = IncrementalAggView(
        src,
        _os.path.join(_tempfile.mkdtemp(prefix="txlog-mv-"), "mv"),
        ["o_orderstatus"],
        {
            "n_orders": ("count", "1"),
            "min_price": ("min", "o_totalprice"),
            "max_price": ("max", "o_totalprice"),
        },
        # pin the incremental path — this query evidences the
        # affected-group RECOMPUTE refresh, not the (tested elsewhere)
        # cost-based rebuild fallback
        rebuild_ratio=None,
    )
    mv.build(spark)
    src.delete(spark, "o_totalprice > 400000")
    src.delete(spark, "o_orderstatus = 'P'")
    mv.refresh(spark)
    src.update(spark, "o_orderkey % 7 = 0", {"o_totalprice": "o_totalprice * 0.5"})
    mv.refresh(spark)
    ops = [h["op"] for h in mv.view.history()]
    assert ops.count("merge") == 2, f"expected 2 refresh merges, got {ops}"
    assert mv.last_recompute_files is not None  # recompute path really ran
    return mv.read(spark).select(
        "o_orderstatus",
        "n_orders",
        F.round("min_price", 2).alias("min_price"),
        F.round("max_price", 2).alias("max_price"),
    )


@register(
    "txlog_matview_join",
    """
    WITH base AS (
      SELECT l_orderkey, l_suppkey, l_quantity,
             CASE WHEN l_suppkey % 10 = 0 THEN l_extendedprice * 1.05
                  ELSE l_extendedprice END AS price,
             l_discount
      FROM lineitem WHERE l_orderkey % 4 IN (0, 1, 2)
    ),
    survivors AS (
      SELECT * FROM base WHERE l_quantity <= 45
    )
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_items,
           round(sum(price * (1 - l_discount)), 2) AS revenue
    FROM survivors s
    JOIN supplier ON s_suppkey = s.l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    GROUP BY n_name
    """,
)
def txlog_matview_join(spark, sf_dir):
    """[EXT] JOIN-VIEW incremental maintenance (r11, sinks/matview.py
    IncrementalJoinAggView): revenue by nation — the canonical
    fact⋈dim⋈dim rollup (lineitem⋈supplier⋈nation) — maintained from
    the FACT table's change feed alone. The view pins the dimension
    snapshots at build time; each refresh enriches the CDF window's
    rows against those frozen broadcast snapshots (a preimage joins the
    same dim rows its insert did, so the additive arithmetic stays
    exact) and applies ONE merge commit. Exercised through an
    insert-only window (the %4==2 append) and a mixed update (+5% for
    %10 suppliers) + delete (quantity > 45) window; the final view must
    hash-match a from-scratch DuckDB aggregation of the same final
    join. At 100 TB: refresh cost is O(fact churn) — the fact is never
    re-scanned, dimensions are broadcast-size."""
    import os as _os
    import tempfile as _tempfile

    from bigdataingestion_spark.sinks.matview import (
        DimJoin,
        IncrementalJoinAggView,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity", "l_extendedprice",
        "l_discount",
    )
    k = F.col("l_orderkey")
    fact = _fresh_txlog()
    fact.append(li.filter(k % 4 < 2))
    fact.alter_properties({"cdf.enabled": "true"})
    supp = _fresh_txlog()
    supp.append(
        _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    )
    nat = _fresh_txlog()
    nat.append(_t(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    mv = IncrementalJoinAggView(
        fact,
        _os.path.join(_tempfile.mkdtemp(prefix="txlog-mv-"), "mv"),
        ["n_name"],
        {
            "n_items": ("count", "1"),
            "revenue": ("sum", "l_extendedprice * (1 - l_discount)"),
        },
        dims=[
            DimJoin(supp, on=[("l_suppkey", "s_suppkey")],
                    select=["s_nationkey"]),
            DimJoin(nat, on=[("s_nationkey", "n_nationkey")],
                    select=["n_name"]),
        ],
        # pin the incremental path: the point of the query is the
        # CDF-refresh arithmetic, not the (tested elsewhere) fallback
        rebuild_ratio=None,
    )
    mv.build(spark)
    fact.append(li.filter(k % 4 == 2))
    mv.refresh(spark)  # insert-only window: additive fold
    fact.update(
        spark, "l_suppkey % 10 = 0",
        {"l_extendedprice": "l_extendedprice * 1.05"},
    )
    fact.delete(spark, "l_quantity > 45")
    mv.refresh(spark)  # mixed window: per-group deltas, one merge
    ops = [h["op"] for h in mv.view.history()]
    # self-evidencing: both refreshes must have run INCREMENTALLY
    assert ops.count("merge") == 2, f"expected 2 refresh merges, got {ops}"
    return mv.read(spark).select(
        "n_name",
        "n_items",
        F.round("revenue", 2).alias("revenue"),
    )


@register(
    "txlog_matview_filtered",
    """
    WITH base AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 6 = 0 THEN o_totalprice + 150000
                  WHEN o_orderkey % 6 = 3 THEN o_totalprice - 150000
                  ELSE o_totalprice END AS price
      FROM orders
      WHERE o_orderkey % 3 IN (0, 1) AND o_orderkey % 14 <> 0
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM base
    WHERE price < 200000
    GROUP BY o_orderstatus
    """,
)
def txlog_matview_filtered(spark, sf_dir):
    """[EXT] FILTERED incremental view (r11, sinks/matview.py `where`):
    the view aggregates only rows its predicate accepts, and the
    maintenance filters the CHANGE rows by the same row-local predicate
    — so the update windows here, which push some orders ACROSS the
    price boundary in both directions (+150k leaves the view, −150k
    re-enters it), net exactly: a passing preimage contributes −1, a
    failing postimage contributes nothing. Built over the %3==0 slice,
    then an append (%3==1), two boundary-crossing updates and a delete
    (%14==0), two incremental refreshes (self-asserted merges); the
    final view must hash-match a from-scratch filtered DuckDB
    aggregation. The sum aggregates integer CENTS, so the additive fold
    is exact and order-independent (a double sum's last-bit drift at
    1e8 magnitudes straddles any fixed rounding). At 100 TB a filtered
    rollup costs O(churn), not a re-filtering of the table."""
    import os as _os
    import tempfile as _tempfile

    from bigdataingestion_spark.sinks.matview import IncrementalAggView

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    src = _fresh_txlog()
    src.append(orders.filter(k % 3 == 0))
    src.alter_properties({"cdf.enabled": "true"})
    mv = IncrementalAggView(
        src,
        _os.path.join(_tempfile.mkdtemp(prefix="txlog-mv-"), "mv"),
        ["o_orderstatus"],
        {
            "n_orders": ("count", "1"),
            "sum_cents": (
                "sum", "CAST(round(o_totalprice * 100) AS BIGINT)"
            ),
        },
        rebuild_ratio=None,
        where="o_totalprice < 200000",
    )
    mv.build(spark)
    src.append(orders.filter(k % 3 == 1))
    mv.refresh(spark)
    src.update(
        spark, "o_orderkey % 6 = 0",
        {"o_totalprice": "o_totalprice + 150000"},
    )
    src.update(
        spark, "o_orderkey % 6 = 3",
        {"o_totalprice": "o_totalprice - 150000"},
    )
    src.delete(spark, "o_orderkey % 14 = 0")
    mv.refresh(spark)
    ops = [h["op"] for h in mv.view.history()]
    assert ops.count("merge") == 2, f"expected 2 refresh merges, got {ops}"
    return mv.read(spark).select(
        "o_orderstatus",
        "n_orders",
        F.col("sum_cents").cast("long").alias("sum_cents"),
    )


@register(
    "txlog_matview_dim_change",
    """
    WITH supp2 AS (
      SELECT s_suppkey,
             CASE WHEN s_suppkey % 10 = 0 THEN (s_nationkey + 1) % 25
                  ELSE s_nationkey END AS s_nationkey
      FROM supplier WHERE s_suppkey % 17 <> 0
    )
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_items,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN supp2 ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE l_orderkey % 2 = 0
    GROUP BY n_name
    """,
)
def txlog_matview_dim_change(spark, sf_dir):
    """[EXT] DIMENSION maintenance of a join view (r11,
    sinks/matview.py refresh_dimensions): after the revenue-by-nation
    view is built, the SUPPLIER dimension itself changes — every %10
    supplier migrates to the next nation and every %17 supplier is
    deleted — and the view folds those changes in WITHOUT a rebuild:
    the dim's own CDF window names the changed supplier keys, the
    groups those keys reach through the fact (under the old dims = the
    losing nations, under the new dims = the gaining ones) are
    recomputed from the fact snapshot AT THE CURSOR with the
    stats-pruned scan, one merge commit, dims re-pinned. Cost is
    O(dim churn + reached-group rows), never O(fact) — at 100 TB,
    moving a supplier recomputes two nations, not the fact table. The
    final view must hash-match a from-scratch DuckDB aggregation over
    the post-change dimension."""
    import os as _os
    import tempfile as _tempfile

    from bigdataingestion_spark.sinks.matview import (
        DimJoin,
        IncrementalJoinAggView,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    fact = _fresh_txlog()
    fact.append(li.filter(F.col("l_orderkey") % 2 == 0))
    fact.alter_properties({"cdf.enabled": "true"})
    supp = _fresh_txlog()
    supp.append(
        _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    )
    supp.alter_properties({"cdf.enabled": "true"})
    nat = _fresh_txlog()
    nat.append(_t(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    mv = IncrementalJoinAggView(
        fact,
        _os.path.join(_tempfile.mkdtemp(prefix="txlog-mv-"), "mv"),
        ["n_name"],
        {
            "n_items": ("count", "1"),
            "revenue": ("sum", "l_extendedprice * (1 - l_discount)"),
        },
        dims=[
            DimJoin(supp, on=[("l_suppkey", "s_suppkey")],
                    select=["s_nationkey"]),
            DimJoin(nat, on=[("s_nationkey", "n_nationkey")],
                    select=["n_name"]),
        ],
        rebuild_ratio=None,
    )
    mv.build(spark)
    supp.update(
        spark, "s_suppkey % 10 = 0",
        {"s_nationkey": "(s_nationkey + 1) % 25"},
    )
    supp.delete(spark, "s_suppkey % 17 = 0")
    mv.refresh_dimensions(spark)  # one merge folds both dim commits
    ops = [h["op"] for h in mv.view.history()]
    assert ops.count("merge") == 1, f"expected 1 dim-refresh merge, got {ops}"
    return mv.read(spark).select(
        "n_name",
        "n_items",
        F.round("revenue", 2).alias("revenue"),
    )


def _semantic_dedup_sql() -> str:
    # the k-means-lite CTEs are SHARED with _kmeans_cells_sql
    # (_KMEANS_CTES — same seeding, one Lloyd iteration, same
    # tie-breaks by construction); drops then removes every vector with
    # a lower-id cluster mate at cosine >= 0.3
    return f"""
    {_KMEANS_CTES},
    drops AS (
      SELECT DISTINCT b.vec_id AS did
      FROM assigned a
      JOIN assigned b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
      WHERE round(
        list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) /
        (sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[])) *
         sqrt(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[]))),
        6) >= 0.3
    )
    SELECT s.vec_id, CAST(s.cell_id AS INT) AS cell_id
    FROM assigned s WHERE s.vec_id NOT IN (SELECT did FROM drops)
    """


@register("embedding_semantic_dedup", _semantic_dedup_sql())
def embedding_semantic_dedup(spark, sf_dir):
    """[EXT] SemDeDup semantic deduplication (r9, public
    arXiv:2303.09540): k-means-lite clusters the embedding space, the
    quadratic cosine join runs WITHIN cells only (pair cost sum of
    |cell|^2, never N^2 — the paper's web-scale trick), and every
    vector with a lower-id cluster mate at cosine >= 0.3 is dropped
    (min-id survivor, a pure function of the data). Returns the
    survivors with their cell; the oracle replays clustering, assignment
    and the drop rule in SQL (operators.similarity.semantic_dedup)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.semantic_dedup(emb, n_cells=4, threshold=0.3)
    return out.select(
        "vec_id", F.col("cell_id").cast("int").alias("cell_id")
    )


# Shared exact-substring span CTEs (stride-aligned 40-char windows,
# md5 keys, 2..64-doc boilerplate band) — one copy for both the pair
# query and the clustering query, so the span math can never drift
# between their oracles.
_SPAN_CTES = """
    spans AS (
      SELECT DISTINCT doc_id,
             md5(substr(text, CAST(p AS INT) + 1, 40)) AS h
      FROM documents,
           UNNEST(range(0, greatest(length(text) - 40 + 1, 0), 10)) AS t(p)
      WHERE length(text) >= 40
    ),
    keep AS (
      SELECT h FROM spans GROUP BY h
      HAVING count(*) BETWEEN 2 AND 64
    ),
    span_pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_spans
      FROM spans a
      JOIN keep USING (h)
      JOIN spans b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
"""


def _semantic_dedup_incremental_sql() -> str:
    # quantizer trained on the CORPUS half only (same shared CTEs);
    # a batch vector (vec_id >= T) is dropped when any same-cell
    # smaller-id vector reaches the threshold — corpus ids are all < T,
    # so "smaller id" covers corpus-vs-batch and within-batch both
    return f"""
    WITH corpus AS (
      SELECT * FROM embeddings
      WHERE vec_id < (SELECT max(vec_id) // 2 FROM embeddings)
    ),
    {_kmeans_ctes('corpus')},
    t AS (SELECT max(vec_id) // 2 AS cut FROM embeddings),
    drops AS (
      SELECT DISTINCT b.vec_id AS did
      FROM assigned a
      JOIN assigned b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
      CROSS JOIN t
      WHERE b.vec_id >= t.cut
        AND round(
          list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) /
          (sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[])) *
           sqrt(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[]))),
          6) >= 0.3
    )
    SELECT s.vec_id, CAST(s.cell_id AS INT) AS cell_id
    FROM assigned s CROSS JOIN t
    WHERE s.vec_id >= t.cut AND s.vec_id NOT IN (SELECT did FROM drops)
    """


@register(
    "embedding_semantic_dedup_incremental", _semantic_dedup_incremental_sql()
)
def embedding_semantic_dedup_incremental(spark, sf_dir):
    """[EXT] Incremental SemDeDup (r9): the lower-id half of the
    embeddings is the existing corpus, the upper half an arriving batch
    admitted against it — quantizer frozen on the corpus (stable cells
    as data grows), |batch|-proportional work instead of re-deduping
    the union, corpus always beats its duplicates
    (operators.similarity.semantic_dedup_incremental)."""
    emb = _t(spark, sf_dir, "embeddings")
    cut = emb.agg(F.max("vec_id")).first()[0] // 2
    out = similarity.semantic_dedup_incremental(
        emb.filter(F.col("vec_id") < cut),
        emb.filter(F.col("vec_id") >= cut),
        n_cells=4,
        threshold=0.3,
    )
    return out.select(
        "vec_id", F.col("cell_id").cast("int").alias("cell_id")
    )


@register(
    "docs_duplicate_spans",
    f"""
    WITH {_SPAN_CTES}
    SELECT id_a, id_b, n_spans FROM span_pairs
    """,
)
def docs_duplicate_spans(spark, sf_dir):
    """[EXT] Exact-substring duplicate pairs (r9, the ExactSubstr shape
    of public arXiv:2107.06499): stride-aligned 40-char windows, md5 as
    the 16-byte shuffle key, boilerplate carve-out above 64 docs per
    span — catches a verbatim paragraph pasted between otherwise
    unrelated documents, which whole-document Jaccard dilutes away
    (operators.text.duplicate_spans)."""
    return text.duplicate_spans(
        _t(spark, sf_dir, "documents"),
        span_len=40,
        stride=10,
        max_docs_per_span=64,
    )


@register(
    "docs_span_dup_clusters",
    f"""
    WITH RECURSIVE {_SPAN_CTES},
    edges AS (
      SELECT id_a AS a, id_b AS b FROM span_pairs
      UNION
      SELECT id_b, id_a FROM span_pairs
    ),
    reach(node, r) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r
    )
    SELECT node AS doc_id, min(r) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def docs_span_dup_clusters(spark, sf_dir):
    """[EXT] Copy-chain clusters (r9): the exact-substring pair graph
    resolved into connected components — A shares a paragraph with B, B
    with C, so {{A,B,C}} is ONE provenance cluster even though A and C
    share nothing directly; cluster_id = min reachable doc_id. Composes
    operators.text.duplicate_spans with the distributed min-label
    fixpoint (operators.dedup.connected_components, per-round shuffle
    |edges|); the oracle replays the closure with a recursive CTE."""
    pairs = text.duplicate_spans(
        _t(spark, sf_dir, "documents"),
        span_len=40,
        stride=10,
        max_docs_per_span=64,
    )
    cc = dedup.connected_components(pairs)
    return cc.select(F.col("node").alias("doc_id"), "cluster_id")


@register(
    "docs_dup_span_profile",
    f"""
    WITH {_SPAN_CTES},
    shared AS (
      SELECT h FROM spans GROUP BY h HAVING count(*) >= 2
    ),
    per_doc AS (
      SELECT s.doc_id,
             count(*) AS n_spans,
             count(k.h) AS n_shared
      FROM spans s LEFT JOIN shared k ON s.h = k.h
      GROUP BY s.doc_id
    )
    SELECT doc_id, n_spans, n_shared,
           round(n_shared / n_spans, 4) AS dup_ratio
    FROM per_doc WHERE n_shared > 0
    """,
)
def docs_dup_span_profile(spark, sf_dir):
    """[EXT] Per-document duplication profile (the corpus-health report
    of arXiv:2107.06499): for each doc with any cross-document span
    overlap, how many of its stride-aligned windows are shared — the
    number that decides between dropping the doc, trimming the span, or
    leaving it (a 95% ratio is a mirror; 5% is a quoted paragraph).
    Distinct (doc, span-hash) rows group once per doc; the shared-span
    set reuses the same md5-keyed shuffle as the pair query
    (operators.text.duplicate_spans' span stage)."""
    docs = _t(spark, sf_dir, "documents")
    spans = text.span_hashes(docs, span_len=40, stride=10)
    shared = (
        spans.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("_h")
        .withColumn("_hit", F.lit(1))
    )
    per_doc = (
        spans.join(shared, "_h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_shared"),
        )
    )
    return per_doc.filter(F.col("n_shared") > 0).select(
        "doc_id",
        "n_spans",
        "n_shared",
        F.round(F.col("n_shared") / F.col("n_spans"), 4).alias("dup_ratio"),
    )


# ===========================================================================
# entry points for __spark_entry__.py
# ===========================================================================

# The correctness driver gates the FIRST 50 entries of queries() in
# declaration order (verified in r1/r2: gated set == list(queries())[:50]).
@register(
    "txlog_matview_topk",
    """
    WITH base AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 0.5
                  ELSE o_totalprice END AS price
      FROM orders
      WHERE o_orderkey % 11 <> 0
    ),
    r AS (
      SELECT o_orderstatus, o_orderkey, price,
             row_number() OVER (PARTITION BY o_orderstatus
                                ORDER BY price DESC, o_orderkey) AS rnk
      FROM base
    )
    SELECT o_orderstatus, CAST(rnk AS INT) AS rnk,
           round(price, 2) AS price, o_orderkey
    FROM r WHERE rnk <= 3
    """,
)
def txlog_matview_topk(spark, sf_dir):
    """[EXT] Incremental TOP-K materialized view (r11,
    sinks/matview.py::IncrementalTopKView): the 3 highest-priced orders
    per status, maintained from the change feed. Window 1 is
    append-only — the refresh re-ranks (stored top-3 ∪ inserts) per
    affected group, source never read; window 2 updates (%7 half-price,
    demoting leaders) and deletes (%11, resurfacing displaced rows) —
    affected groups recompute via the stats-pruned semi-join. The final
    leaderboard must equal the oracle's from-scratch ranked window over
    the same final state; tie-break (price DESC, o_orderkey ASC) is
    total, so fold and rebuild keep identical rows."""
    import os as _os
    import tempfile as _tempfile

    from bigdataingestion_spark.sinks.matview import IncrementalTopKView

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    src = _fresh_txlog()
    src.append(orders.filter(k % 3 < 2))
    src.alter_properties({"cdf.enabled": "true"})
    mv = IncrementalTopKView(
        src,
        _os.path.join(_tempfile.mkdtemp(prefix="txlog-mv-"), "mv"),
        ["o_orderstatus"],
        order_by="o_totalprice",
        k=3,
        payload=["o_orderkey"],
        order_name="price",
        # pin the incremental path: this query IS the driver evidence
        # for both maintenance modes — the cost fallback could
        # legitimately pick build() at fixture scale
        rebuild_ratio=None,
    )
    mv.build(spark)
    src.append(orders.filter(k % 3 == 2))
    mv.refresh(spark)  # insert-only fold
    assert mv.last_recompute_files is None, "fold must not read source"
    src.update(
        spark, "o_orderkey % 7 = 0", {"o_totalprice": "o_totalprice * 0.5"}
    )
    src.delete(spark, "o_orderkey % 11 = 0")
    mv.refresh(spark)  # affected-group recompute
    ops = [h["op"] for h in mv.view.history()]
    assert ops.count("merge") == 2, f"expected 2 refresh merges, got {ops}"
    return mv.read(spark).select(
        "o_orderstatus",
        F.col("rank").cast("int").alias("rnk"),
        F.round("price", 2).alias("price"),
        "o_orderkey",
    )


@register(
    "txlog_matview_median",
    """
    WITH base AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 0.5
                  ELSE o_totalprice END AS price
      FROM orders
      WHERE o_orderkey % 11 <> 0
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(quantile_cont(price, 0.5), 4) AS med_price,
           round(quantile_cont(price, 0.9), 4) AS p90_price
    FROM base GROUP BY o_orderstatus
    """,
)
def txlog_matview_median(spark, sf_dir):
    """[EXT] Incremental materialized view over an ARBITRARY SQL
    aggregate (r11, sinks/matview.py ("sql", expr) mode): exact median
    and P90 price per order status, maintained through an append window
    and an update+delete window. Percentiles have no incremental form,
    so BOTH windows route to the affected-group recompute — even the
    pure-append one (the insert-only fold would corrupt a quantile);
    cost stays O(|changes| + affected-group rows), never O(source). The
    final view must equal the oracle's from-scratch quantile_cont
    (Spark's ``percentile`` uses the same linear interpolation)."""
    import os as _os
    import tempfile as _tempfile

    from bigdataingestion_spark.sinks.matview import IncrementalAggView

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    src = _fresh_txlog()
    src.append(orders.filter(k % 3 < 2))
    src.alter_properties({"cdf.enabled": "true"})
    mv = IncrementalAggView(
        src,
        _os.path.join(_tempfile.mkdtemp(prefix="txlog-mv-"), "mv"),
        ["o_orderstatus"],
        {
            "n_orders": ("count", "1"),
            "med_price": ("sql", "percentile(o_totalprice, 0.5)"),
            "p90_price": ("sql", "percentile(o_totalprice, 0.9)"),
        },
        rebuild_ratio=None,  # pin the incremental path under test
    )
    mv.build(spark)
    src.append(orders.filter(k % 3 == 2))
    mv.refresh(spark)
    assert mv.last_recompute_files is not None, (
        "sql aggregates must recompute even on an insert-only window"
    )
    src.update(
        spark, "o_orderkey % 7 = 0", {"o_totalprice": "o_totalprice * 0.5"}
    )
    src.delete(spark, "o_orderkey % 11 = 0")
    mv.refresh(spark)
    ops = [h["op"] for h in mv.view.history()]
    assert ops.count("merge") == 2, f"expected 2 refresh merges, got {ops}"
    return mv.read(spark).select(
        "o_orderstatus",
        "n_orders",
        F.round("med_price", 4).alias("med_price"),
        F.round("p90_price", 4).alias("p90_price"),
    )


@register(
    "corpus_bpe_top_pairs",
    f"""
    WITH words AS (
      SELECT unnest(regexp_split_to_array({_NORM_SQL}, ' ')) AS word
      FROM documents
    ),
    vocab AS (
      SELECT word, count(*) AS freq FROM words WHERE word <> '' GROUP BY 1
    ),
    pairs AS (
      SELECT substr(word, i, 1) AS lhs,
             CASE WHEN i < length(word) THEN substr(word, i + 1, 1)
                  ELSE '</w>' END AS rhs,
             freq
      FROM vocab, LATERAL unnest(generate_series(1, length(word))) AS t(i)
    )
    SELECT lhs, rhs, CAST(sum(freq) AS BIGINT) AS pair_freq
    FROM pairs GROUP BY 1, 2
    ORDER BY pair_freq DESC, lhs, rhs
    LIMIT 50
    """,
)
def corpus_bpe_top_pairs(spark, sf_dir):
    """[EXT] BPE tokenizer-training statistic (operators/vocab.py,
    Sennrich et al. arXiv:1508.07909): the 50 most frequent adjacent
    character pairs (with </w> end-of-word markers) weighted by word
    frequency — the argmax surface of BPE's first merge. One corpus
    pass builds the word vocabulary; pair counting then explodes the
    BOUNDED vocab (distinct words), not the corpus, and the shuffle
    carries ~|alphabet|² aggregate keys. Top-50 is a
    TakeOrderedAndProject under a total order (freq DESC, lhs, rhs) —
    deterministic across engines and partitionings."""
    pc = vocab.bpe_pair_counts(_t(spark, sf_dir, "documents"))
    return (
        pc.orderBy(F.desc("pair_freq"), F.asc("lhs"), F.asc("rhs"))
        .limit(50)
        .select("lhs", "rhs", F.col("pair_freq").cast("long").alias("pair_freq"))
    )


@register(
    "txlog_matview_union",
    """
    WITH base AS (
      SELECT o_orderstatus,
             CASE WHEN o_orderkey % 2 = 0 AND o_orderkey % 7 = 0
                  THEN o_totalprice * 1.1 ELSE o_totalprice END AS price
      FROM orders
      WHERE NOT (o_orderkey % 2 = 1 AND o_orderkey % 5 = 0)
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM base GROUP BY o_orderstatus
    """,
)
def txlog_matview_union(spark, sf_dir):
    """[EXT] UNION materialized view (r11,
    sinks/matview.py::IncrementalUnionAggView): revenue by status over a
    fact SHARDED into two txlog tables (even/odd order keys), maintained
    from each shard's CDF under a version-VECTOR cursor. Window 1
    appends to both shards (one merge folds both deltas); window 2
    moves only parts of each shard (a price update on the even shard, a
    delete on the odd one) — the additive deltas still sum across
    shards because every group spans both. The final view must equal
    the oracle's from-scratch aggregate of the union; exactly-once via
    the epoch-scoped vector txn id. The summed expression is integer
    CENTS: additive IVM accumulates float drift relative to a
    from-scratch double sum (documented module caveat — re-anchor via
    build()), so the cross-engine hash gate sums exactly."""
    import os as _os
    import tempfile as _tempfile

    from bigdataingestion_spark.sinks.matview import IncrementalUnionAggView

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    shards = []
    for parity in (0, 1):
        t = _fresh_txlog()
        t.append(orders.filter((k % 2 == parity) & (k % 3 < 2)))
        t.alter_properties({"cdf.enabled": "true"})
        shards.append(t)
    mv = IncrementalUnionAggView(
        shards,
        _os.path.join(_tempfile.mkdtemp(prefix="txlog-mv-"), "mv"),
        ["o_orderstatus"],
        {
            "n_orders": ("count", "1"),
            "sum_cents": (
                "sum", "CAST(round(o_totalprice * 100) AS BIGINT)"
            ),
        },
        rebuild_ratio=None,  # pin the incremental path under test
    )
    mv.build(spark)
    for parity, t in enumerate(shards):
        t.append(orders.filter((k % 2 == parity) & (k % 3 == 2)))
    mv.refresh(spark)  # one merge folds BOTH shards' windows
    shards[0].update(
        spark, "o_orderkey % 7 = 0", {"o_totalprice": "o_totalprice * 1.1"}
    )
    shards[1].delete(spark, "o_orderkey % 5 = 0")
    mv.refresh(spark)
    ops = [h["op"] for h in mv.view.history()]
    assert ops.count("merge") == 2, f"expected 2 refresh merges, got {ops}"
    return mv.read(spark).select(
        "o_orderstatus",
        "n_orders",
        F.col("sum_cents").cast("long").alias("sum_cents"),
    )


# Fixed merge list for the encoder gate query (rank order). The oracle
# replays it as a sentinel-replace chain: every symbol is exactly ONE
# character (originals map to themselves, </w> to chr(31), each merged
# token to chr(1)..chr(5)), so leftmost non-overlapping string replace
# IS the symbol-pair merge pass — and replaying merges in rank order
# equals the greedy lowest-rank encoder because a merge's operand tokens
# are always created by STRICTLY EARLIER merges (each token has a unique
# creating merge), so later merges can never feed earlier ones.
_BPE_MERGES = [("e", "r"), ("er", "</w>"), ("t", "h"), ("th", "e"), ("a", "n")]


@register(
    "docs_bpe_token_frequency",
    f"""
    WITH words AS (
      SELECT unnest(regexp_split_to_array({_NORM_SQL}, ' ')) AS word
      FROM documents
    ),
    enc AS (
      SELECT replace(replace(replace(replace(replace(
               word || chr(31),
               'er', chr(1)),
               chr(1) || chr(31), chr(2)),
               'th', chr(3)),
               chr(3) || 'e', chr(4)),
               'an', chr(5)) AS s
      FROM words WHERE word <> ''
    ),
    syms AS (
      SELECT substr(s, i, 1) AS c
      FROM enc, LATERAL unnest(generate_series(1, length(s))) AS t(i)
    )
    SELECT CASE c
             WHEN chr(31) THEN '</w>'
             WHEN chr(1) THEN 'er'
             WHEN chr(2) THEN 'er</w>'
             WHEN chr(3) THEN 'th'
             WHEN chr(4) THEN 'the'
             WHEN chr(5) THEN 'an'
             ELSE c END AS token,
           CAST(count(*) AS BIGINT) AS n
    FROM syms GROUP BY 1
    """,
)
def docs_bpe_token_frequency(spark, sf_dir):
    """[EXT] BPE ENCODING over the corpus (operators.vocab.apply_bpe):
    token frequencies after applying a fixed 5-merge vocabulary with the
    greedy lowest-rank encoder (Arrow-batched pandas UDF, merge ranks
    broadcast in the closure). The oracle replays the same merges as a
    DuckDB sentinel-replace chain — an INDEPENDENT encoding route, so a
    hash match pins the encoder's merge semantics (leftmost,
    non-overlapping, rank order ≡ greedy) cross-engine, not just
    against our own Python reference."""
    docs = _t(spark, sf_dir, "documents")
    toks = vocab.apply_bpe(docs, _BPE_MERGES).select(
        F.explode("bpe_tokens").alias("token")
    )
    return toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))


@register(
    "docs_epoch_shuffle",
    """
    WITH keyed AS (
      SELECT doc_id,
             md5('ep1:' || CAST(doc_id AS VARCHAR)) AS k,
             CAST(('0x' || substr(md5('ep1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                  % 8 AS INT) AS shard
      FROM documents
    )
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id)
                AS BIGINT) AS pos
    FROM keyed
    """,
)
def docs_epoch_shuffle(spark, sf_dir):
    """[EXT] Deterministic epoch shuffle (operators.text.epoch_shuffle):
    every doc gets a reproducible (shard, pos) training-order address
    from a keyed md5 — resume-safe, audit-safe, identical on any
    partitioning or engine. NO global sort: shards assign at the scan
    (narrow), positions are n_shards INDEPENDENT row_number windows —
    the 100 TB shape (a single-ordering window would serialize the
    corpus through one partition). New seed = new epoch order."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return text.epoch_shuffle(docs, n_shards=8, seed="ep1")


@register(
    "docs_adaptive_quality",
    f"""
    WITH d AS (
      SELECT doc_id, lang, CAST({_WC_SQL} AS BIGINT) AS wc
      FROM documents
    ),
    cuts AS (
      SELECT lang, quantile_cont(wc, 0.25) AS cut FROM d GROUP BY lang
    )
    SELECT d.doc_id, d.lang, d.wc
    FROM d JOIN cuts USING (lang)
    WHERE d.wc > cut
    """,
)
def docs_adaptive_quality(spark, sf_dir):
    """[EXT] Per-language adaptive quality gate
    (operators.text.adaptive_quality_filter): keep docs strictly above
    their OWN language's 25th-percentile word count — a fixed global
    cutoff over-prunes low-resource languages and under-prunes dominant
    ones; the per-group exact percentile self-calibrates. Thresholds
    are one |langs|-row aggregate broadcast back, so the corpus side
    stays a narrow filter (oracle: percentile_cont semantics match
    Spark's ``percentile`` linear interpolation exactly on integer
    scores)."""
    docs = _t(spark, sf_dir, "documents")
    scored = docs.withColumn(
        "wc", text.word_count(F.col("text")).cast("long")
    )
    return text.adaptive_quality_filter(
        scored, "wc", by="lang", frac=0.25
    ).select("doc_id", "lang", "wc")


@register(
    "txlog_sql_snapshot_query",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    WHERE o_orderkey % 2 = 0 OR o_orderkey % 3 = 0
    GROUP BY o_orderstatus
    """,
)
def txlog_sql_snapshot_query(spark, sf_dir):
    """[EXT] Read-side SQL registration (r12, sql_registry.py — the
    analyst-facing half of COVERAGE.md deviation #9): a txlog table is
    published as a temp view and queried BY NAME through ``spark.sql``,
    frozen at a consistent snapshot per ``register_tables`` call.
    Self-evidencing snapshot isolation: a commit landing AFTER
    registration is asserted invisible until re-registration — the
    returned aggregate reads the RE-registered (current) snapshot, so
    the oracle is a plain GROUP BY over the final row set."""
    from bigdataingestion_spark.sql_registry import register_tables

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    t = _fresh_txlog()
    t.append(orders.filter(k % 2 == 0))
    register_tables(spark, {"bdi_sql_sales": t})
    n0 = spark.sql("SELECT count(*) AS c FROM bdi_sql_sales").first()["c"]
    # a post-registration commit must be INVISIBLE to the frozen name
    t.append(orders.filter((k % 2 != 0) & (k % 3 == 0)))
    n_frozen = spark.sql(
        "SELECT count(*) AS c FROM bdi_sql_sales"
    ).first()["c"]
    assert n_frozen == n0, f"snapshot tore: {n_frozen} != {n0}"
    versions = register_tables(spark, {"bdi_sql_sales": t})  # re-resolve
    assert versions["bdi_sql_sales"] == t.version()
    return spark.sql(
        """
        SELECT o_orderstatus,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM bdi_sql_sales GROUP BY o_orderstatus
        """
    )


@register(
    "txlog_matview_schema_add",
    """
    WITH healed AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.05
                  ELSE o_totalprice END AS price
      FROM orders WHERE o_orderkey % 3 IN (0, 1)
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice AS price
      FROM orders WHERE o_orderkey % 3 = 2
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(price), 2) AS sum_price
    FROM healed GROUP BY o_orderstatus
    """,
)
def txlog_matview_schema_add(spark, sf_dir):
    """[EXT] Matview source-schema-evolution contract (r12,
    sinks/matview.py MatviewSourceSchemaError): one rule for all view
    kinds — an ADDITIVE column add in the refresh window folds
    normally (the definition never reads it), while a RETYPE of a
    definition input is refused with the view untouched and ``build()``
    re-anchors. Exercised in sequence on one view: (1) append carrying
    an extra ``note`` column → incremental refresh; (2) overwrite
    retyping the price to string → typed refusal, state asserted
    unchanged; (3) heal by overwriting a well-typed final base and
    rebuilding; (4) a last append → incremental refresh again. The
    oracle is the from-scratch GROUP BY of the healed final state."""
    import os as _os
    import tempfile as _tempfile

    from bigdataingestion_spark.sinks.matview import (
        IncrementalAggView,
        MatviewSourceSchemaError,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    src = _fresh_txlog()
    src.append(orders.filter(k % 3 == 0))
    src.alter_properties({"cdf.enabled": "true"})
    mv = IncrementalAggView(
        src,
        _os.path.join(_tempfile.mkdtemp(prefix="txlog-mv-"), "mv"),
        ["o_orderstatus"],
        {"n_orders": ("count", "1"), "sum_price": ("sum", "o_totalprice")},
        rebuild_ratio=None,  # pin the incremental path under test
    )
    mv.build(spark)
    # (1) column ADD in the window: refreshes fine
    src.append(
        orders.filter(k % 3 == 1).withColumn("note", F.lit("added"))
    )
    mv.refresh(spark)
    before = {
        (r["o_orderstatus"], r["n_orders"])
        for r in mv.read(spark).collect()
    }
    # (2) RETYPE in the window: typed refusal, view untouched
    src.overwrite(
        orders.filter(k % 3 == 2)
        .withColumn("o_totalprice", F.col("o_totalprice").cast("string"))
    )
    refused = False
    try:
        mv.refresh(spark)
    except MatviewSourceSchemaError:
        refused = True
    assert refused, "retype window must refuse"
    assert {
        (r["o_orderstatus"], r["n_orders"])
        for r in mv.read(spark).collect()
    } == before
    # (3) heal: well-typed final base, re-anchor
    src.overwrite(
        orders.filter(k % 3 < 2).withColumn(
            "o_totalprice",
            F.when(k % 7 == 0, F.col("o_totalprice") * 1.05).otherwise(
                F.col("o_totalprice")
            ),
        )
    )
    mv.build(spark)
    # (4) incremental again after the re-anchor
    src.append(orders.filter(k % 3 == 2))
    mv.refresh(spark)
    ops = [h["op"] for h in mv.view.history()]
    assert ops.count("merge") == 2, f"expected 2 refresh merges, got {ops}"
    return mv.read(spark).select(
        "o_orderstatus",
        "n_orders",
        F.round("sum_price", 2).alias("sum_price"),
    )


@register(
    "txlog_matview_recover",
    """
    WITH base AS (
      SELECT l_returnflag,
             CASE WHEN l_orderkey % 10 = 0 THEN l_quantity + 5
                  ELSE l_quantity END AS qty
      FROM lineitem WHERE l_orderkey % 4 = 0
      UNION ALL
      SELECT l_returnflag, l_quantity AS qty
      FROM lineitem WHERE l_orderkey % 4 = 1
    )
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           round(sum(qty), 2) AS sum_qty
    FROM base GROUP BY l_returnflag
    """,
)
def txlog_matview_recover(spark, sf_dir):
    """[EXT] One-call matview recovery (r12, IncrementalAggView.recover
    — mirroring recover_cdf_replica's shape): an update's CDF images
    are vacuumed away, the refresh raises the typed unreadable-window
    error, and ``recover()`` re-anchors with a rebuild — after which
    INCREMENTAL refresh works again (asserted: the post-recovery append
    folds via one merge commit, not another rebuild)."""
    import os as _os
    import tempfile as _tempfile

    from bigdataingestion_spark.sinks.matview import (
        IncrementalAggView,
        MatviewWindowUnreadableError,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    k = F.col("l_orderkey")
    src = _fresh_txlog()
    src.append(li.filter(k % 4 == 0))
    src.alter_properties({"cdf.enabled": "true"})
    mv = IncrementalAggView(
        src,
        _os.path.join(_tempfile.mkdtemp(prefix="txlog-mv-"), "mv"),
        ["l_returnflag"],
        {"n_items": ("count", "1"), "sum_qty": ("sum", "l_quantity")},
        rebuild_ratio=None,
    )
    mv.build(spark)
    src.update(spark, "l_orderkey % 10 = 0", {"l_quantity": "l_quantity + 5"})
    src.vacuum(retention_seconds=0)  # reclaims the update's CDF images
    broke = False
    try:
        mv.refresh(spark)
    except MatviewWindowUnreadableError:
        broke = True
    assert broke, "vacuumed window must refuse"
    mv.recover(spark)
    src.append(li.filter(k % 4 == 1))
    mv.refresh(spark)
    ops = [h["op"] for h in mv.view.history()]
    assert ops.count("merge") == 1, f"expected 1 post-recovery merge, got {ops}"
    return mv.read(spark).select(
        "l_returnflag",
        "n_items",
        F.round("sum_qty", 2).alias("sum_qty"),
    )


@register(
    "txlog_matview_pinned_vacuum",
    """
    WITH dim AS (
      SELECT s_suppkey,
             CASE WHEN s_suppkey % 10 = 0 THEN 0
                  ELSE s_nationkey END AS nk
      FROM supplier
    ),
    fact AS (
      SELECT l_suppkey, l_extendedprice, l_discount
      FROM lineitem WHERE l_orderkey % 5 IN (0, 1)
    )
    SELECT nk AS s_nationkey,
           CAST(count(*) AS BIGINT) AS n_items,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM fact JOIN dim ON s_suppkey = l_suppkey
    GROUP BY nk
    """,
)
def txlog_matview_pinned_vacuum(spark, sf_dir):
    """[EXT] Pin-aware dimension vacuum (r12): a join view built with
    ``register_pins=True`` records its pinned dim version as a
    ``matview.pin.*`` property ON the dimension, which the dim's
    ``vacuum()`` honors as a retention floor — so after the dimension
    MOVES (suppliers %10==0 re-homed to nation 0) and a zero-retention
    vacuum runs, the pinned snapshot is still readable and
    ``refresh_dimensions()`` folds the change in INCREMENTALLY (no
    rebuild — asserted on the view's history) before a fact append
    refreshes as usual."""
    import os as _os
    import tempfile as _tempfile

    from bigdataingestion_spark.sinks.matview import (
        DimJoin,
        IncrementalJoinAggView,
    )
    from bigdataingestion_spark.sinks.txlog import TxLogTable

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    k = F.col("l_orderkey")
    work = _tempfile.mkdtemp(prefix="txlog-mv-")
    fact = _fresh_txlog()
    fact.append(li.filter(k % 5 == 0))
    fact.alter_properties({"cdf.enabled": "true"})
    dim = TxLogTable(_os.path.join(work, "dim"))
    dim.append(
        _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    )
    dim.alter_properties({"cdf.enabled": "true"})
    mv = IncrementalJoinAggView(
        fact,
        _os.path.join(work, "mv"),
        ["s_nationkey"],
        {
            "n_items": ("count", "1"),
            "revenue": ("sum", "l_extendedprice * (1 - l_discount)"),
        },
        [DimJoin(dim, on=[("l_suppkey", "s_suppkey")])],
        rebuild_ratio=None,
        register_pins=True,
    )
    mv.build(spark)
    dim.update(spark, "s_suppkey % 10 = 0", {"s_nationkey": "0"})
    deleted = dim.vacuum(retention_seconds=0)
    # the pinned snapshot must have survived the vacuum (floor honored)
    pinned = mv._pinned_dim_versions(mv.view.snapshot())[0]
    snap = dim.snapshot(pinned)
    assert all(
        _os.path.exists(_os.path.join(dim.path, f)) for f in snap.files
    ), f"pin floor breached (vacuum deleted {deleted})"
    mv.refresh_dimensions(spark)
    fact.append(li.filter(k % 5 == 1))
    mv.refresh(spark)
    ops = [h["op"] for h in mv.view.history()]
    assert "overwrite" not in ops[1:], f"dim fold must not rebuild: {ops}"
    return mv.read(spark).select(
        "s_nationkey",
        "n_items",
        F.round("revenue", 2).alias("revenue"),
    )


@register(
    "txlog_sql_time_travel",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_removed,
           round(sum(o_totalprice), 2) AS removed_price
    FROM orders
    WHERE o_orderkey % 3 = 0 AND o_orderkey % 2 = 0
    GROUP BY o_orderstatus
    """,
)
def txlog_sql_time_travel(spark, sf_dir):
    """[EXT] SQL time travel through the registry (r12,
    sql_registry.register_tables ``at=``): the same txlog table is
    published twice — once at its CURRENT snapshot, once pinned to a
    PAST version — and one ``spark.sql`` statement diffs the table
    against its own history (what a DELETE removed, by status). The
    oracle recomputes the removed set relationally from the fixture;
    the returned provenance versions are asserted exact."""
    from bigdataingestion_spark.sql_registry import register_tables

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = _fresh_txlog()
    t.append(orders.filter(F.col("o_orderkey") % 3 == 0))
    v0 = t.version()
    t.delete(spark, "o_orderkey % 2 = 0")
    versions = register_tables(
        spark,
        {"bdi_tt_now": t, "bdi_tt_then": t},
        at={"bdi_tt_then": v0},
    )
    assert versions == {"bdi_tt_now": t.version(), "bdi_tt_then": v0}
    return spark.sql(
        """
        SELECT p.o_orderstatus,
               count(*) AS n_removed,
               round(sum(p.o_totalprice), 2) AS removed_price
        FROM bdi_tt_then p
        LEFT ANTI JOIN bdi_tt_now n ON p.o_orderkey = n.o_orderkey
        GROUP BY p.o_orderstatus
        """
    )



@register(
    "txlog_matview_attach_shard",
    """
    WITH base AS (
      SELECT o_orderstatus,
             CASE WHEN o_orderkey % 3 = 0 AND o_orderkey % 7 = 0
                  THEN o_totalprice * 1.1 ELSE o_totalprice END AS price
      FROM orders
      WHERE NOT (o_orderkey % 3 = 2 AND o_orderkey % 5 = 0)
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM base GROUP BY o_orderstatus
    """,
)
def txlog_matview_attach_shard(spark, sf_dir):
    """[EXT] Shard-membership evolution (r13,
    IncrementalUnionAggView.attach_shard): a 2-shard union rollup
    (orders by o_orderkey % 3, shard 2 not yet existing) is built and
    refreshed through one window, then shard 2 JOINS THE VIEW IN PLACE
    mid-history — its snapshot folds as one insert-only merge (no
    rebuild: asserted zero overwrites), the definition/vector/epoch
    commit atomically, and subsequent DML on ALL THREE shards (a price
    update on shard 0, a delete on the attached shard 2) maintains
    through the ordinary vector refresh. Final state must equal the
    oracle's from-scratch aggregate of the evolved membership; sums are
    integer cents so the cross-engine hash is exact."""
    import os as _os
    import tempfile as _tempfile

    from bigdataingestion_spark.sinks.matview import IncrementalUnionAggView

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    shards = []
    for p in (0, 1):
        t = _fresh_txlog()
        t.append(orders.filter((k % 3 == p) & (k % 2 == 0)))
        t.alter_properties({"cdf.enabled": "true"})
        shards.append(t)
    mv = IncrementalUnionAggView(
        shards,
        _os.path.join(_tempfile.mkdtemp(prefix="txlog-mv-"), "mv"),
        ["o_orderstatus"],
        {
            "n_orders": ("count", "1"),
            "sum_cents": (
                "sum", "CAST(round(o_totalprice * 100) AS BIGINT)"
            ),
        },
        rebuild_ratio=None,
    )
    mv.build(spark)
    for p, t in enumerate(shards):
        t.append(orders.filter((k % 3 == p) & (k % 2 == 1)))
    mv.refresh(spark)
    new = _fresh_txlog()
    new.append(orders.filter(k % 3 == 2))
    new.alter_properties({"cdf.enabled": "true"})
    vec = mv.attach_shard(spark, new)
    assert len(vec) == 3 and len(mv.sources) == 3
    shards[0].update(
        spark, "o_orderkey % 7 = 0", {"o_totalprice": "o_totalprice * 1.1"}
    )
    new.delete(spark, "o_orderkey % 5 = 0")
    mv.refresh(spark)
    ops = [h["op"] for h in mv.view.history()]
    assert ops.count("overwrite") == 0, f"attach must not rebuild: {ops}"
    return mv.read(spark).select(
        "o_orderstatus",
        "n_orders",
        F.col("sum_cents").cast("long").alias("sum_cents"),
    )


@register(
    "txlog_matview_detach_shard",
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           round(sum(l_quantity), 2) AS sum_qty,
           max(l_quantity) AS max_qty
    FROM lineitem
    WHERE l_orderkey % 3 <> 1 AND l_orderkey % 7 <> 0
    GROUP BY l_returnflag
    """,
)
def txlog_matview_detach_shard(spark, sf_dir):
    """[EXT] Shard-membership evolution, removal side (r13,
    IncrementalUnionAggView.detach_shard): a 3-shard lineitem rollup
    (by l_orderkey % 3) with a NON-additive aggregate (max) detaches
    shard 1 in place — its contribution is subtracted via
    affected-group recompute from the REMAINING shards (a detached
    extreme must resurface the runner-up another shard holds; no
    rebuild: asserted zero overwrites), the vector shrinks, the stale
    trailing pin property is dropped, and subsequent deletes on both
    survivors maintain through the ordinary refresh."""
    import os as _os
    import tempfile as _tempfile

    from bigdataingestion_spark.sinks.matview import IncrementalUnionAggView

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    k = F.col("l_orderkey")
    shards = []
    for p in (0, 1, 2):
        t = _fresh_txlog()
        t.append(li.filter(k % 3 == p))
        t.alter_properties({"cdf.enabled": "true"})
        shards.append(t)
    mv = IncrementalUnionAggView(
        shards,
        _os.path.join(_tempfile.mkdtemp(prefix="txlog-mv-"), "mv"),
        ["l_returnflag"],
        {
            "n_items": ("count", "1"),
            "sum_qty": ("sum", "l_quantity"),
            "max_qty": ("max", "l_quantity"),
        },
        rebuild_ratio=None,
    )
    mv.build(spark)
    rvec = mv.detach_shard(spark, shards[1])
    assert len(rvec) == 2 and len(mv.sources) == 2
    snap = mv.view.snapshot()
    assert "matview.union.src.2.version" not in snap.properties
    for t in (shards[0], shards[2]):
        t.delete(spark, "l_orderkey % 7 = 0")
    mv.refresh(spark)
    ops = [h["op"] for h in mv.view.history()]
    assert ops.count("overwrite") == 0, f"detach must not rebuild: {ops}"
    return mv.read(spark).select(
        "l_returnflag",
        "n_items",
        F.round("sum_qty", 2).alias("sum_qty"),
        "max_qty",
    )


@register(
    "txlog_matview_alter_aggs",
    """
    WITH base AS (
      SELECT o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 11 <> 0
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(max(cents) AS BIGINT) AS max_cents
    FROM base GROUP BY o_orderstatus
    """,
)
def txlog_matview_alter_aggs(spark, sf_dir):
    """[EXT] Additive matview definition evolution (r13,
    IncrementalAggView.alter): a count-only rollup of orders refreshes
    through one window, then ``alter(add_aggs=...)`` extends it with a
    sum AND a max — backfilled in ONE source read at the view's cursor
    (existing state is never recomputed; the cursor survives, asserted)
    — after which a mixed append+delete window maintains every column:
    the sum folds additively while the deleted max exercises the
    affected-group recompute the new aggregate demands. Must equal the
    oracle's from-scratch aggregate; cents keep the hash exact."""
    import os as _os
    import tempfile as _tempfile

    from bigdataingestion_spark.sinks.matview import IncrementalAggView

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    src = _fresh_txlog()
    src.append(orders.filter(k % 2 == 0))
    src.alter_properties({"cdf.enabled": "true"})
    mv = IncrementalAggView(
        src,
        _os.path.join(_tempfile.mkdtemp(prefix="txlog-mv-"), "mv"),
        ["o_orderstatus"],
        {"n_orders": ("count", "1")},
        rebuild_ratio=None,
    )
    mv.build(spark)
    src.append(orders.filter((k % 2 == 1) & (k % 3 < 2)))
    cur = mv.refresh(spark)
    got = mv.alter(
        spark,
        {
            "sum_cents": (
                "sum", "CAST(round(o_totalprice * 100) AS BIGINT)"
            ),
            "max_cents": (
                "max", "CAST(round(o_totalprice * 100) AS BIGINT)"
            ),
        },
    )
    assert got == cur, "alter must keep the cursor, not re-anchor"
    src.append(orders.filter((k % 2 == 1) & (k % 3 == 2)))
    src.delete(spark, "o_orderkey % 11 = 0")
    mv.refresh(spark)
    return mv.read(spark).select(
        "o_orderstatus",
        "n_orders",
        F.col("sum_cents").cast("long").alias("sum_cents"),
        F.col("max_cents").cast("long").alias("max_cents"),
    )


@register(
    "stream_views_self_heal",
    """
    WITH dim AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 10 = 0 THEN 'MOVED'
                  ELSE c_mktsegment END AS seg
      FROM customer
    ),
    fact AS (
      SELECT o_custkey, o_totalprice
      FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT seg AS segment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM fact JOIN dim ON o_custkey = c_custkey
    GROUP BY seg
    """,
)
def stream_views_self_heal(spark, sf_dir):
    """[EXT] Self-healing streamed view maintenance (r13,
    streaming.ingest.stream_txlog_ingest ``views_recover=True`` +
    the r12 recover() ladder): a file stream ingests order facts into
    a txlog table whose join matview (customer segment rollup) is
    maintained per batch. BETWEEN stream runs the dimension MOVES
    (customers %10==0 re-segmented) — a plain refresh now raises the
    typed stale-dimension error (asserted), which would fail every
    batch retry forever; the next ``views_recover=True`` run heals it
    in-batch via the incremental dimension fold (NO rebuild: asserted
    zero overwrites) and keeps maintaining. Final view equals the
    oracle's from-scratch join aggregate."""
    import os as _os
    import tempfile as _tempfile

    from bigdataingestion_spark.sinks.matview import (
        DimJoin,
        IncrementalJoinAggView,
        MatviewStaleDimensionError,
    )
    from bigdataingestion_spark.sinks.txlog import TxLogTable
    from bigdataingestion_spark.streaming.ingest import stream_txlog_ingest

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    k = F.col("o_orderkey")
    fact_rows = orders.filter(k % 3 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    work = _tempfile.mkdtemp(prefix="txlog-stream-")
    land = _os.path.join(work, "land")
    ckpt = _os.path.join(work, "ckpt")
    fact_rows.filter(k % 2 == 0).coalesce(1).write.mode("append").parquet(
        land
    )
    dim = TxLogTable(_os.path.join(work, "dim"))
    dim.append(
        _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    dim.alter_properties({"cdf.enabled": "true"})
    fact = TxLogTable(_os.path.join(work, "fact"))
    fact.append(fact_rows.limit(0))
    fact.alter_properties({"cdf.enabled": "true"})
    mv = IncrementalJoinAggView(
        fact,
        _os.path.join(work, "mv"),
        ["c_mktsegment"],
        {
            "n_orders": ("count", "1"),
            "sum_cents": (
                "sum", "CAST(round(o_totalprice * 100) AS BIGINT)"
            ),
        },
        dims=[
            DimJoin(
                dim,
                on=[("o_custkey", "c_custkey")],
                select=["c_mktsegment"],
            )
        ],
        rebuild_ratio=None,
    )
    mv.build(spark)  # empty anchor
    q = stream_txlog_ingest(
        spark, land, fact.path, ckpt, views=[mv], views_recover=True
    )
    assert q.awaitTermination(300)
    # out-of-band dimension move between runs
    dim.update(spark, "c_custkey % 10 = 0", {"c_mktsegment": "'MOVED'"})
    broke = False
    try:
        mv.refresh(spark)
    except MatviewStaleDimensionError:
        broke = True
    assert broke, "a plain refresh must refuse the moved dimension"
    fact_rows.filter(k % 2 == 1).coalesce(1).write.mode("append").parquet(
        land
    )
    q2 = stream_txlog_ingest(
        spark, land, fact.path, ckpt, views=[mv], views_recover=True
    )
    assert q2.awaitTermination(300)
    ops = [h["op"] for h in mv.view.history()]
    assert ops.count("overwrite") == 0, f"heal must not rebuild: {ops}"
    return mv.read(spark).select(
        F.col("c_mktsegment").alias("segment"),
        "n_orders",
        F.col("sum_cents").cast("long").alias("sum_cents"),
    )


@register(
    "txlog_sql_register_refresh",
    """
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM part GROUP BY p_brand
    """,
)
def txlog_sql_register_refresh(spark, sf_dir):
    """[EXT] Registration-time freshness (r13, sql_registry.
    register_tables ``refresh=True``): a brand rollup matview goes
    STALE (its source takes an append after the build); registering it
    with ``refresh=True`` recovers it BEFORE publishing, so the very
    first ``spark.sql`` read over the name reflects the source's
    current snapshot — no separate maintenance step between ingest and
    analyst. Provenance versions are asserted exact against the healed
    view; the oracle aggregates the full fixture."""
    from bigdataingestion_spark.sinks.matview import IncrementalAggView
    from bigdataingestion_spark.sql_registry import register_tables

    import os as _os
    import tempfile as _tempfile

    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand",
                                            "p_retailprice")
    k = F.col("p_partkey")
    src = _fresh_txlog()
    src.append(part.filter(k % 2 == 0))
    src.alter_properties({"cdf.enabled": "true"})
    mv = IncrementalAggView(
        src,
        _os.path.join(_tempfile.mkdtemp(prefix="txlog-mv-"), "mv"),
        ["p_brand"],
        {
            "n_parts": ("count", "1"),
            "sum_cents": (
                "sum", "CAST(round(p_retailprice * 100) AS BIGINT)"
            ),
        },
        rebuild_ratio=None,
    )
    mv.build(spark)
    src.append(part.filter(k % 2 == 1))  # the view is now stale
    versions = register_tables(
        spark, {"bdi_r13_brand_rollup": mv}, refresh=True
    )
    assert versions["bdi_r13_brand_rollup"] == mv.view.version()
    return spark.sql(
        """
        SELECT p_brand, n_parts, CAST(sum_cents AS LONG) AS sum_cents
        FROM bdi_r13_brand_rollup
        """
    )


@register(
    "txlog_matview_drop_aggs",
    """
    WITH base AS (
      SELECT o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 13 <> 0
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM base GROUP BY o_orderstatus
    """,
)
def txlog_matview_drop_aggs(spark, sf_dir):
    """[EXT] Aggregate drop via alter(drop_aggs=...) (r14) — the cheap
    half of non-additive definition evolution: a wide orders rollup
    (count + sum + max + a ``("sql", percentile)``) refreshes through
    one window, then DROPS the max and the percentile mid-history with
    NO source read at all (the stored state is projected and
    republished; the cursor survives, asserted). Dropping the only
    "sql" aggregate makes the view additive again, proven by the
    mixed append+delete window after the drop folding without an
    overwrite (exactly one overwrite in history: the drop's republish).
    Must equal a from-scratch build of the narrowed definition — the
    oracle aggregates the final source state relationally."""
    import os as _os
    import tempfile as _tempfile

    from bigdataingestion_spark.sinks.matview import IncrementalAggView

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    src = _fresh_txlog()
    src.append(orders.filter(k % 2 == 0))
    src.alter_properties({"cdf.enabled": "true"})
    cents = "CAST(round(o_totalprice * 100) AS BIGINT)"
    mv = IncrementalAggView(
        src,
        _os.path.join(_tempfile.mkdtemp(prefix="txlog-mv-"), "mv"),
        ["o_orderstatus"],
        {
            "n_orders": ("count", "1"),
            "sum_cents": ("sum", cents),
            "max_cents": ("max", cents),
            "med_cents": (
                "sql", f"CAST(percentile({cents}, 0.5) AS BIGINT)"
            ),
        },
        rebuild_ratio=None,
    )
    mv.build(spark)
    src.append(orders.filter((k % 2 == 1) & (k % 3 < 2)))
    cur = mv.refresh(spark)
    got = mv.alter(spark, drop_aggs=["max_cents", "med_cents"])
    assert got == cur, "drop must keep the cursor, not re-anchor"
    src.append(orders.filter((k % 2 == 1) & (k % 3 == 2)))
    src.delete(spark, "o_orderkey % 13 = 0")
    mv.refresh(spark)
    ops = [h["op"] for h in mv.view.history()]
    assert ops.count("overwrite") == 1, (
        f"only the drop republishes; the post-drop window folds: {ops}"
    )
    return mv.read(spark).select(
        "o_orderstatus",
        "n_orders",
        F.col("sum_cents").cast("long").alias("sum_cents"),
    )


@register(
    "txlog_matview_rename_aggs",
    """
    WITH base AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem WHERE l_orderkey % 7 <> 0
    )
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM base GROUP BY l_returnflag
    """,
)
def txlog_matview_rename_aggs(spark, sf_dir):
    """[EXT] Aggregate rename via alter(rename_aggs=...) (r14): a
    lineitem rollup refreshes through one window, then renames its sum
    column with NO source read (pure state-column relabel; cursor
    survives, asserted), after which a delete window keeps folding
    additively under the new name. Values must be bit-identical to the
    oracle's aggregate under the new output name."""
    import os as _os
    import tempfile as _tempfile

    from bigdataingestion_spark.sinks.matview import IncrementalAggView

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    k = F.col("l_orderkey")
    src = _fresh_txlog()
    src.append(li.filter(k % 2 == 0))
    src.alter_properties({"cdf.enabled": "true"})
    mv = IncrementalAggView(
        src,
        _os.path.join(_tempfile.mkdtemp(prefix="txlog-mv-"), "mv"),
        ["l_returnflag"],
        {
            "n_items": ("count", "1"),
            "sum_cents": (
                "sum", "CAST(round(l_extendedprice * 100) AS BIGINT)"
            ),
        },
        rebuild_ratio=None,
    )
    mv.build(spark)
    src.append(li.filter(k % 2 == 1))
    cur = mv.refresh(spark)
    got = mv.alter(spark, rename_aggs={"sum_cents": "revenue_cents"})
    assert got == cur, "rename must keep the cursor, not re-anchor"
    src.delete(spark, "l_orderkey % 7 = 0")
    mv.refresh(spark)
    return mv.read(spark).select(
        "l_returnflag",
        "n_items",
        F.col("revenue_cents").cast("long").alias("revenue_cents"),
    )


@register(
    "txlog_matview_lease",
    """
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_cust,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM customer GROUP BY c_mktsegment
    """,
)
def txlog_matview_lease(spark, sf_dir):
    """[EXT] Maintenance-lease enforcement of the single-maintainer
    contract (r14, ``lease_seconds``): a customer rollup is maintained
    under a lease; a SECOND live maintainer handle is refused with the
    typed :class:`MatviewLeaseHeldError` (asserted) instead of racing
    the first one's commits; after the holder releases, the second
    handle claims the lease and finishes the refresh. The final state
    must equal the oracle's aggregate of the full fixture."""
    import os as _os
    import tempfile as _tempfile

    from bigdataingestion_spark.sinks.matview import (
        IncrementalAggView,
        MatviewLeaseHeldError,
    )

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    k = F.col("c_custkey")
    src = _fresh_txlog()
    src.append(cust.filter(k % 2 == 0))
    src.alter_properties({"cdf.enabled": "true"})
    path = _os.path.join(_tempfile.mkdtemp(prefix="txlog-mv-"), "mv")
    aggs = {
        "n_cust": ("count", "1"),
        "sum_cents": ("sum", "CAST(round(c_acctbal * 100) AS BIGINT)"),
    }
    holder = IncrementalAggView(
        src, path, ["c_mktsegment"], aggs,
        rebuild_ratio=None, lease_seconds=300.0,
    )
    holder.build(spark)
    src.append(cust.filter(k % 4 == 1))
    holder.refresh(spark)  # claims the lease
    other = IncrementalAggView(
        src, path, ["c_mktsegment"], aggs,
        rebuild_ratio=None, lease_seconds=300.0,
    )
    src.append(cust.filter(k % 4 == 3))
    try:
        other.refresh(spark)
        raise AssertionError(
            "second live maintainer must get the typed lease refusal"
        )
    except MatviewLeaseHeldError:
        pass
    holder.release_lease()
    other.refresh(spark)  # claims the freed lease and advances
    return other.read(spark).select(
        "c_mktsegment",
        "n_cust",
        F.col("sum_cents").cast("long").alias("sum_cents"),
    )


# _GATE_FIRST rotates queries that still need driver evidence into that
# window; everything else follows in registration order and rotates into
# the window on later rounds once these have green driver rows.
_GATE_FIRST = [
    # Round-14 window, per the r13 verdict's recorded rotation plan.
    # Standing policy: queries NEW this round lead (zero evidence
    # first) — the 3 r14 additions (aggregate drop and rename via
    # alter(), maintenance-lease enforcement) — then the 28 remaining
    # r11-window entries (the oldest delivered driver evidence after
    # the green r13 gate), then the first 19 of the r12-window cohort
    # (the recorded plan said 20; a third new query displaced the
    # last, docs_pack_sequences, to the r15 queue head — new-first is
    # the standing policy). After a green r14 gate no query's
    # delivered evidence is older than r12 except the r12-window tail
    # the r15 queue already names below.
    # --- new this round (r14) ---
    "txlog_matview_drop_aggs",
    "txlog_matview_rename_aggs",
    "txlog_matview_lease",
    # --- the 28 remaining r11-window entries ---
    "docs_duplicate_spans",
    "docs_span_dup_clusters",
    "q14_promo_revenue",
    "q16_part_supplier_counts",
    "q18_large_orders",
    "q19_disjunctive_revenue",
    "q21_sole_late_supplier",
    "q22_idle_customers",
    "q6_forecast_revenue",
    "q7_nation_volume",
    "q8_market_share",
    "q9_product_profit",
    "similar_part_names",
    "streaming_hourly_counts",
    "user_funnel_set_ops",
    "user_purchase_error_overlap",
    "streaming_user_sessions",
    "minhash_lsh_pairs",
    "minhash_incremental_pairs",
    "ngram_jaccard_pairs",
    "simhash_hamming_pairs",
    "asof_last_purchase",
    "training_data_pipeline",
    "text_quality_stats",
    "lang_histogram",
    "user_sessions",
    "user_sessions_native",
    "multimodal_features",
    # --- first 20 of the r12-window cohort (oldest delivered) ---
    "txlog_sql_snapshot_query",
    "txlog_sql_time_travel",
    "txlog_matview_schema_add",
    "txlog_matview_recover",
    "txlog_matview_pinned_vacuum",
    "events_latest_state",
    "events_range_pairs",
    "events_hourly_gapfill",
    "events_retention_cohorts",
    "events_window_funnel",
    "customer_cohort_ltv",
    "docs_bigram_quality",
    "txlog_backfill_replace",
    "txlog_rename_migration",
    "txlog_dv_point_delete",
    "txlog_cdf_audit",
    "txlog_generated_bucket",
    "docs_boilerplate_ngrams",
    "docs_length_profile",
    # Exactly 50 names (3 new r14 + 28 r11 tail + 19 r12 cohort).
    # r15 queue: any queries new in r15 lead, then the remaining 31
    # r12-window entries in their r12 order (docs_pack_sequences,
    # docs_pii_redacted,
    # docs_temperature_sample, docs_tfidf_top_terms,  # (r12 order cont.)
    # txlog_cdc_ops_final_state, txlog_auto_compact_invariance,
    # docs_dup_span_profile, q17_small_quantity_revenue,
    # txlog_nested_rename, txlog_update_recompute,
    # corpus_token_frequency, dedup_exact_groups,
    # dedup_exact_survivors, dedup_near_clusters, doc_fingerprints,
    # docs_chunked, docs_contamination, embedding_cosine_topk,
    # embedding_cosine_topk_arrow, events_multires_rollup,
    # events_value_percentiles, ingest_chunk_profile,
    # ingest_config_union, ingest_distinct_years,
    # ingest_months_below_limit, ingest_next_surrogate_key,
    # ingest_watermark_next, ingest_watermark_filter_count,
    # ingest_years_above_limit, minhash_signatures, multimodal_meta),
    # then the r13-window cohort (txlog_matview_attach_shard ..
    # part_best_supplier) as the then-oldest delivered evidence.
]


def queries_in_gate_order() -> list[str]:
    return list(dict.fromkeys([*_GATE_FIRST, *CATALOG]))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: CATALOG[name].fn for name in queries_in_gate_order()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in CATALOG.items() if spec.oracle is not None
    }


def headline_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in CATALOG.items() if spec.headline}
