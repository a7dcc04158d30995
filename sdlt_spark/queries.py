"""Declared query registry — the driver-checked operator inventory.

Every entry implements one row of SURVEY.md §2's operator inventory as a
PySpark DataFrame program plus (where SQL-expressible) an exactly-equivalent
ANSI-SQL oracle that DuckDB runs on the same parquet fixtures. The driver
compares row-count + schema + order-insensitive value hash, so:

- every computed column is aliased identically on both sides;
- double aggregates are rounded (2 dp for money-scale sums, 4 dp for ratios)
  to absorb summation-order float drift between engines;
- timestamps are emitted as formatted strings (Spark µs vs DuckDB ns
  precision would otherwise hash differently);
- integer-kind outputs are cast to the same width on both sides
  (DuckDB length()/year()/sum(int) return BIGINT/HUGEINT).

Reference parity citations are per-function (``/root/reference/README.md``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sdlt_spark import tables
from sdlt_spark.operators.asof import asof_join

QueryFn = Callable[[SparkSession, str], DataFrame]

# name -> (spark_fn, oracle_sql | None). Populated by @_q below.
_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def _q(name: str, sql: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        # A silent dict overwrite here once shadowed a whole operator (the
        # round-10 pack_sequences collision): both entries were internally
        # consistent, so no oracle/bench/driver check could notice. Fail
        # loudly at import time instead.
        if name in _REGISTRY:
            raise ValueError(
                f"duplicate registry entry {name!r}: already registered as "
                f"{_REGISTRY[name][0].__module__}.{_REGISTRY[name][0].__qualname__}"
            )
        _REGISTRY[name] = (fn, sql)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return tables.load(spark, sf_dir, name)


# ann_ivf_refresh's in-entry refreshed-index == full-re-assign equality
# check. On by default so every correctness path (driver, driver_sim,
# entry smoke) still gets a hard failure on violation; bench.py turns it
# off for the TIMED path only — the exceptAll recompute was ~16% of the
# r11 suite headline and is not operator work (the same assert is pinned
# independently in tests/test_similarity.py).
ANN_REFRESH_VERIFY = True


def registry() -> dict[str, tuple[QueryFn, str | None]]:
    return dict(_REGISTRY)


# ---------------------------------------------------------------------------
# §2.4 A1 — global count (reference's only aggregation; README.md:86 etc.)
# ---------------------------------------------------------------------------


@_q("count_all", "SELECT count(*) AS n FROM lineitem")
def count_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# §2.2 P1 — surrogate KEY projection (README.md:73-80: concat of dimensions)
# ---------------------------------------------------------------------------


@_q(
    "key_projection",
    """
    SELECT concat_ws(':', l_orderkey, l_linenumber) AS key,
           l_quantity
    FROM lineitem
    """,
)
def key_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        F.concat_ws(":", "l_orderkey", "l_linenumber").alias("key"),
        "l_quantity",
    )


# §2.2 P2 — column projection (README.md:236)
@_q("projection", "SELECT c_custkey, c_name, c_mktsegment FROM customer")
def projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")


# §2.2 P3 — equality filter (README.md:235)
@_q(
    "filter_eq",
    """
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


# §2.2 P4 — conjunctive filter (README.md:383)
@_q(
    "filter_and",
    """
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem WHERE l_returnflag = 'R' AND l_linestatus = 'F'
    """,
)
def filter_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_returnflag") == "R") & (F.col("l_linestatus") == "F")).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


# §2.2 P5 — range predicate (README.md:177 full-replacement range semantics)
@_q(
    "filter_range",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS price,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date
    FROM orders
    WHERE o_totalprice >= 1000 AND o_totalprice < 50000
      AND o_orderdate >= TIMESTAMP '1996-01-01'
    """,
)
def filter_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(
            (F.col("o_totalprice") >= 1000)
            & (F.col("o_totalprice") < 50000)
            & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        ).select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("price"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
    )


# ---------------------------------------------------------------------------
# §2.3 M1 — merge/upsert, relational equivalent (README.md:125-130):
#   result = source UNION ALL (master ANTI JOIN source ON key)
# ---------------------------------------------------------------------------


@_q(
    "merge_upsert",
    """
    WITH src AS (
      -- *2.0 is exact in binary floating point (pure exponent bump), so both
      -- engines round identical doubles; *1.1 would hit .xx5 ties where
      -- Spark (HALF_UP) and DuckDB disagree by one cent.
      SELECT o_orderkey, 'U' AS o_orderstatus,
             round(o_totalprice * 2.0, 2) AS o_totalprice
      FROM orders WHERE o_orderkey % 10 = 0
    )
    SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice
    FROM src
    UNION ALL
    SELECT o.o_orderkey, o.o_orderstatus, round(o.o_totalprice, 2) AS o_totalprice
    FROM orders o ANTI JOIN src s ON o.o_orderkey = s.o_orderkey
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    master = _t(spark, sf_dir, "orders")
    src = (
        master.filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            F.lit("U").alias("o_orderstatus"),
            F.round(F.col("o_totalprice") * 2.0, 2).alias("o_totalprice"),
        )
    )
    untouched = master.join(src.select("o_orderkey"), "o_orderkey", "left_anti").select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("o_totalprice")
    )
    return src.unionByName(untouched)


# §2.3 M3 — predicate delete, relational equivalent (README.md:281)
@_q(
    "delete_filter",
    """
    SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice
    FROM orders WHERE NOT (o_orderstatus = 'F')
    """,
)
def delete_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.filter(~(F.col("o_orderstatus") == "F")).select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("o_totalprice")
    )


# §2.3 M4 — predicate update, relational equivalent (README.md:290)
@_q(
    "update_case",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderpriority = '1-URGENT' THEN 0.0
                ELSE round(o_totalprice, 2) END AS o_totalprice
    FROM orders
    """,
)
def update_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_orderpriority") == "1-URGENT", F.lit(0.0))
        .otherwise(F.round("o_totalprice", 2))
        .alias("o_totalprice"),
    )


# ---------------------------------------------------------------------------
# §2.4 A2 — hash group-by aggregation (TPC-H Q1 shape)
# ---------------------------------------------------------------------------


@_q(
    "groupby_agg",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)       AS sum_qty,
           round(sum(l_extendedprice), 2)  AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4)       AS avg_qty,
           round(avg(l_discount), 4)       AS avg_disc,
           count(*)                        AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def groupby_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "sum_disc_price"
        ),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


# §2.4 A3 — distinct aggregation per group
@_q(
    "count_distinct",
    """
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS n_custs,
           count(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_custs"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# §2.4 A4 — rollup (grouping sets)
@_q(
    "rollup_agg",
    """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty")
    )


# ---------------------------------------------------------------------------
# §2.5 joins — the merge condition (README.md:127) is an equi join in disguise
# ---------------------------------------------------------------------------


@_q(
    "join_inner",
    """
    SELECT c_mktsegment,
           round(sum(o_totalprice), 2) AS revenue,
           count(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    # customer is a dim table: broadcast it so the fact side never shuffles.
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@_q(
    "join_left",
    """
    SELECT c_custkey, count(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@_q(
    "join_semi",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@_q(
    "join_anti",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@_q(
    "join_full",
    # FULL OUTER over a deliberately partial overlap (only even custkeys on
    # the orders side): rows surviving from each side alone carry NULLs.
    """
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           round(o.o_totalprice, 2) AS o_totalprice
    FROM customer c
    FULL OUTER JOIN (SELECT * FROM orders WHERE o_custkey % 2 = 0) o
      ON c.c_custkey = o.o_custkey
    """,
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 2 == 0)
    c = _t(spark, sf_dir, "customer")
    return c.join(o, c.c_custkey == o.o_custkey, "full_outer").select(
        "c_custkey",
        "c_name",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
    )


@_q(
    "join_cross",
    """
    SELECT a.r_name AS name_a, b.r_name AS name_b
    FROM region a CROSS JOIN region b
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of the 5-row region dim with itself (25 rows) —
    the explicit crossJoin API; any large side would broadcast-nested-loop
    the small one."""
    r = _t(spark, sf_dir, "region")
    a = r.select(F.col("r_name").alias("name_a"))
    b = r.select(F.col("r_name").alias("name_b"))
    return a.crossJoin(b)


# §2.5 J5 — as-of join: latest click at-or-before each purchase, per user.
@_q(
    "asof_join",
    """
    WITH clicks AS (
      SELECT user_id, ts, value FROM (
        SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'click') WHERE rn = 1
    ),
    purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id AS purchase_id, p.user_id AS user_id,
           round(c.value, 4) AS last_click_value
    FROM purchases p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value", "event_id"
    )
    joined = asof_join(
        purchases,
        clicks.select("user_id", "ts", "value", "event_id"),
        on="user_id",
        ts="ts",
        value_cols=["value"],
        tiebreaker="event_id",
    )
    return joined.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.round("value_asof", 4).alias("last_click_value"),
    )


# ---------------------------------------------------------------------------
# §2.6 window functions
# ---------------------------------------------------------------------------


@_q(
    "window_rank",
    """
    SELECT o_custkey, o_orderkey, rnk FROM (
      SELECT o_custkey, o_orderkey,
             CAST(row_number() OVER (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rnk
      FROM orders) WHERE rnk <= 3
    """,
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk")
    )


@_q(
    "window_lag",
    """
    SELECT event_id, user_id,
           round(value - lag(value) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id), 4) + 0.0 AS delta
    FROM events
    """,
)
def window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        (F.round(F.col("value") - F.lag("value").over(w), 4) + 0.0).alias("delta"),
    )


@_q(
    "window_moving_avg",
    """
    SELECT event_id,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mavg
    FROM events
    """,
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 0)
    return ev.select("event_id", F.round(F.avg("value").over(w), 4).alias("mavg"))


@_q(
    "window_time_range",
    # RANGE frame over event TIME, not row position: everything within the
    # trailing hour AT SECOND GRANULARITY on both engines. Spark's
    # ts.cast('long') truncates sub-second precision, so the oracle must
    # order by floor(epoch(ts)) too — `RANGE INTERVAL 1 HOUR` over the raw
    # timestamp honors microseconds and diverges exactly when one pair of
    # events straddles the boundary by a fraction of a second (first seen
    # at sf0.1: 3600.x-second gaps truncate inside the hour on the Spark
    # side). count() (not avg) keeps the check integer-exact.
    """
    SELECT event_id,
           CAST(count(*) OVER (PARTITION BY user_id
                               ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                               RANGE BETWEEN 3600 PRECEDING
                                         AND CURRENT ROW) AS BIGINT)
             AS n_last_hour
    FROM events
    """,
)
def window_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 time-variant: trailing-hour event count per user — a RANGE frame
    keyed on event time (rows frames count positions; range frames honor
    gaps and ties in the time axis)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-3600, 0)
    )
    return ev.select("event_id", F.count(F.lit(1)).over(w).alias("n_last_hour"))


# ---------------------------------------------------------------------------
# §2.7 sorts / top-k
# ---------------------------------------------------------------------------


@_q(
    "order_by",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS price
    FROM orders ORDER BY o_totalprice DESC, o_orderkey
    """,
)
def order_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.orderBy(F.col("o_totalprice").desc(), "o_orderkey").select(
        "o_orderkey", F.round("o_totalprice", 2).alias("price")
    )


@_q(
    "top_k",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS price
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    # orderBy + limit compiles to TakeOrderedAndProject: per-partition heaps,
    # only k rows cross the wire — the right plan at any scale.
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("price"))
    )


# §2.8 set operations
@_q(
    "union_all",
    """
    SELECT 'lo' AS bucket, o_orderkey FROM orders WHERE o_totalprice < 5000
    UNION ALL
    SELECT 'hi' AS bucket, o_orderkey FROM orders WHERE o_totalprice >= 150000
    """,
)
def union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    lo = o.filter(F.col("o_totalprice") < 5000).select(
        F.lit("lo").alias("bucket"), "o_orderkey"
    )
    hi = o.filter(F.col("o_totalprice") >= 150000).select(
        F.lit("hi").alias("bucket"), "o_orderkey"
    )
    return lo.unionByName(hi)


# ---------------------------------------------------------------------------
# §2.9 scalar functions (string / date / json / array)
# ---------------------------------------------------------------------------


@_q(
    "scalar_string",
    """
    SELECT c_custkey,
           lower(c_name) AS name_lc,
           regexp_extract(c_name, '([0-9]+)', 1) AS digits,
           CAST(length(c_name) AS BIGINT) AS name_len
    FROM customer
    """,
)
def scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.lower("c_name").alias("name_lc"),
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("digits"),
        F.length("c_name").cast("long").alias("name_len"),
    )


@_q(
    "scalar_date",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(month(o_orderdate) AS INTEGER) AS mon,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start
    FROM orders
    """,
)
def scalar_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mon"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month_start"),
    )


@_q(
    "scalar_json",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
)
def scalar_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k")
    )


@_q(
    "scalar_array",
    """
    SELECT vec_id,
           CAST(len(embedding) AS INTEGER) AS dim,
           round(CAST(embedding[1] AS DOUBLE), 4) + 0.0 AS first_val
    FROM embeddings
    """,
)
def scalar_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        (F.round(F.element_at("embedding", 1).cast("double"), 4) + 0.0).alias("first_val"),
    )


# ---------------------------------------------------------------------------
# §2.10 streaming — batch-equivalent tumbling window over events
# ---------------------------------------------------------------------------


@_q(
    "events_tumbling_window",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm").alias("window_start"),
            "event_type",
        ).agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


# ---------------------------------------------------------------------------
# §2.1/§2.3 — vintage store state ops, checked end-to-end: each query BUILDS a
# VintageTable from the orders fixture, applies real commits (write/merge/
# delete/update), reads a snapshot back and must match the relational oracle.
# This is the Delta-role surface (README.md:92-319) behind S2/S3/M1-M4.
# ---------------------------------------------------------------------------

_ORDERS_PROJ_SQL = "SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice FROM orders"


def _orders_proj(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("o_totalprice")
    )


def _merge_src(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            F.lit("U").alias("o_orderstatus"),
            F.round(F.col("o_totalprice") * 2.0, 2).alias("o_totalprice"),
        )
    )


# One physical base table per (session, sf_dir); every vintage_* query gets
# an isolated SHALLOW CLONE of it (metadata-only, zero data copy), so the
# 8-file fixture write happens once per driver run instead of once per query.
_VINTAGE_BASE: dict = {}


def _fresh_vintage(spark: SparkSession, sf_dir: str):
    import tempfile

    from sdlt_spark.store import VintageTable

    key = (id(spark), sf_dir)
    base = _VINTAGE_BASE.get(key)
    if base is None or not base.exists():
        path = tempfile.mkdtemp(prefix="sdlt_vintage_base_") + "/orders"
        base = VintageTable(spark, path)
        base.write(_orders_proj(spark, sf_dir).repartition(8), mode="overwrite")
        _VINTAGE_BASE[key] = base
    return base.clone(tempfile.mkdtemp(prefix="sdlt_vintage_") + "/orders")


@_q("vintage_scan", _ORDERS_PROJ_SQL)
def vintage_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: write orders into a vintage table, scan it back (README.md:98)."""
    return _fresh_vintage(spark, sf_dir).read()


@_q(
    "vintage_merge",
    """
    WITH src AS (
      SELECT o_orderkey, 'U' AS o_orderstatus,
             round(o_totalprice * 2.0, 2) AS o_totalprice
      FROM orders WHERE o_orderkey % 10 = 0
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM src
    UNION ALL
    SELECT o.o_orderkey, o.o_orderstatus, round(o.o_totalprice, 2) AS o_totalprice
    FROM orders o ANTI JOIN src s ON o.o_orderkey = s.o_orderkey
    """,
)
def vintage_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 executed as a real copy-on-write commit, not just its relational
    formulation (README.md:125-130)."""
    t = _fresh_vintage(spark, sf_dir)
    t.merge(_merge_src(spark, sf_dir), ["o_orderkey"])
    return t.read()


@_q("vintage_time_travel", _ORDERS_PROJ_SQL)
def vintage_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: after a merge commit, versionAsOf 0 must reproduce the initial
    load bit-for-bit (README.md:164-173)."""
    t = _fresh_vintage(spark, sf_dir)
    t.merge(_merge_src(spark, sf_dir), ["o_orderkey"])
    return t.read(version=0)


@_q(
    "vintage_delete",
    "SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice "
    "FROM orders WHERE NOT (o_orderstatus = 'F')",
)
def vintage_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 as a real predicate-delete commit (README.md:281)."""
    t = _fresh_vintage(spark, sf_dir)
    t.delete("o_orderstatus = 'F'")
    return t.read()


@_q(
    "vintage_delete_dv",
    "SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice "
    "FROM orders WHERE NOT (o_orderstatus = 'F')",
)
def vintage_delete_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 through the MERGE-ON-READ path: delete(mode='dv') records matched
    row positions as a deletion-vector sidecar
    (store/vintage.py::_rewrite_rows, Delta's deletion vectors) — zero data
    files rewritten — and read() applies it as an anti-join. Same
    relational answer as vintage_delete by construction; the oracle is
    shared. The point-delete shape for 100 TB tables where copy-on-write
    would rewrite a 128 MB file per row."""
    t = _fresh_vintage(spark, sf_dir)
    t.delete("o_orderstatus = 'F'", mode="dv")
    return t.read()


@_q(
    "vintage_update",
    """
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderstatus = 'P' THEN 0.0 ELSE round(o_totalprice, 2) END
             AS o_totalprice
    FROM orders
    """,
)
def vintage_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 as a real predicate-update commit (README.md:290)."""
    t = _fresh_vintage(spark, sf_dir)
    t.update("o_orderstatus = 'P'", {"o_totalprice": F.lit(0.0)})
    return t.read()


@_q(
    "vintage_update_dv",
    """
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderstatus = 'P' THEN 0.0 ELSE round(o_totalprice, 2) END
             AS o_totalprice
    FROM orders
    """,
)
def vintage_update_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 through the MERGE-ON-READ path: update(mode='dv') hides matched
    rows behind a deletion-vector sidecar and appends their updated copies
    (store/vintage.py::_rewrite_rows, Delta's DV-backed UPDATE) — zero data
    files rewritten. Same relational answer as vintage_update; shared
    oracle. The point-update shape for 100 TB tables."""
    t = _fresh_vintage(spark, sf_dir)
    t.update("o_orderstatus = 'P'", {"o_totalprice": F.lit(0.0)}, mode="dv")
    return t.read()


@_q(
    "vintage_history",
    # timestamps are run-dependent, but the (version, operation, dataChange)
    # projection is exact: the clone bootstrap plus the three mutations
    """
    SELECT CAST(version AS BIGINT) AS version, operation,
           CAST(dataChange AS BOOLEAN) AS dataChange
    FROM (VALUES (3, 'UPDATE', true), (2, 'DELETE', true),
                 (1, 'MERGE', true), (0, 'CLONE', true)) AS t(version, operation, dataChange)
    """,
)
def vintage_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: version log after write+merge+delete+update (README.md:305-319)."""
    t = _fresh_vintage(spark, sf_dir)
    t.merge(_merge_src(spark, sf_dir), ["o_orderkey"])
    t.delete("o_orderstatus = 'F'")
    t.update("o_orderstatus = 'P'", {"o_totalprice": F.lit(0.0)})
    return t.history().select("version", "operation", "dataChange")


@_q("vintage_timestamp_travel", _ORDERS_PROJ_SQL)
def vintage_timestamp_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: ``timestampAsOf`` (README.md:166) — a wall-clock instant captured
    between the initial load and a merge must resolve to the pre-merge
    snapshot. Commit timestamps are stored as full-precision epoch floats,
    so a microsecond-apart capture is unambiguous (the sleep guards against
    a coarse or stepped clock)."""
    import time as _time

    t = _fresh_vintage(spark, sf_dir)
    _time.sleep(0.005)
    before_merge = _time.time()
    _time.sleep(0.005)
    t.merge(_merge_src(spark, sf_dir), ["o_orderkey"])
    return t.read(timestamp=before_merge)


@_q("vintage_compact", _ORDERS_PROJ_SQL)
def vintage_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: compaction is a physical reorganization with dataChange=false
    (README.md:403-412) — reading back after repartition+sort must be
    bit-for-bit the plain projection."""
    t = _fresh_vintage(spark, sf_dir)
    t.compact(num_files=2, sort_by=["o_orderkey"])
    return t.read()


@_q("vintage_optimize", _ORDERS_PROJ_SQL)
def vintage_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 extension: OPTIMIZE-style small-file bin-packing
    (store/vintage.py::optimize) — only under-half-target files are
    rewritten into ~target-size bins (coalesce, no shuffle), dataChange=
    false. Reading back must be bit-for-bit the plain projection. The
    steady-state answer to the reference's >300-small-files problem
    (README.md:392) without compact()'s full rewrite."""
    t = _fresh_vintage(spark, sf_dir)
    # the clone's 8 small files all fall under target/2 and pack together
    t.optimize(target_file_bytes=64 * 1024 * 1024)
    return t.read()


@_q(
    "vintage_vacuum",
    "SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice "
    "FROM orders WHERE NOT (o_orderstatus = 'F')",
)
def vintage_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: vacuum (README.md:415) must delete ONLY dead files. Choreography:
    compact (writes clone-owned files, retires the shared cloned-in refs),
    then a predicate delete (retires the compacted files), then vacuum with
    zero retention — which physically removes the dead compacted files and
    skips the shared ones it doesn't own. The scan afterwards must still
    produce exactly the delete-state rows; a vacuum that removed a live (or
    shared) file would crash or mismatch here."""
    t = _fresh_vintage(spark, sf_dir)
    t.compact(num_files=2)
    t.delete("o_orderstatus = 'F'")
    t.vacuum(retention_hours=0)
    return t.read()


@_q(
    "vintage_evolve",
    """
    WITH src AS (
      SELECT o_orderkey, 'U' AS o_orderstatus,
             round(o_totalprice * 2.0, 2) AS o_totalprice,
             'HIGH' AS o_priority
      FROM orders WHERE o_orderkey % 10 = 0
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_priority FROM src
    UNION ALL
    SELECT o.o_orderkey, o.o_orderstatus, round(o.o_totalprice, 2) AS o_totalprice,
           CAST(NULL AS STRING) AS o_priority
    FROM orders o ANTI JOIN src s ON o.o_orderkey = s.o_orderkey
    """,
)
def vintage_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5: schema-evolving merge (README.md:330,372-387 — Delta autoMerge).
    The source carries a new ``o_priority`` column; after the merge the
    scan surfaces it as typed NULL on every untouched row (the COALESCE
    shape of README.md:379-387), real values on merged rows."""
    src = _merge_src(spark, sf_dir).withColumn("o_priority", F.lit("HIGH"))
    t = _fresh_vintage(spark, sf_dir)
    t.merge(src, ["o_orderkey"], schema_evolution=True)
    return t.read()


@_q(
    "vintage_clause_evolve",
    """
    WITH src AS (
      SELECT o_orderkey, round(o_totalprice * 2.0, 2) AS new_price
      FROM orders WHERE o_orderkey % 10 = 0
    )
    SELECT o.o_orderkey, o.o_orderstatus,
           CASE WHEN s.o_orderkey IS NOT NULL AND o.o_orderstatus = 'F'
                THEN s.new_price ELSE round(o.o_totalprice, 2)
           END AS o_totalprice,
           CASE WHEN s.o_orderkey IS NOT NULL AND o.o_orderstatus = 'F'
                THEN 'HIGH' ELSE CAST(NULL AS STRING)
           END AS o_priority
    FROM orders o LEFT JOIN src s ON o.o_orderkey = s.o_orderkey
    """,
)
def vintage_clause_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 × conditional clauses — Delta autoMerge composed with
    ``whenMatchedUpdate(condition, set)`` in ONE commit (the composition
    the reference reaches via README.md:330,372 autoMerge plus
    conditional clauses): the source carries a new ``o_priority`` column;
    only matched rows passing the condition receive it (and the doubled
    price), every other row — matched-but-unconditioned, unmatched, and
    rows in untouched files — reads it as a typed NULL."""
    src = _merge_src(spark, sf_dir).withColumn("o_priority", F.lit("HIGH"))
    t = _fresh_vintage(spark, sf_dir)
    t.merge(
        src,
        ["o_orderkey"],
        matched_update={
            "o_totalprice": "src_o_totalprice",
            "o_priority": "src_o_priority",
        },
        matched_condition="o_orderstatus = 'F'",
        schema_evolution=True,
    )
    return t.read()


@_q(
    "vintage_diff",
    """
    SELECT o_orderkey, o_orderstatus, CAST(0.0 AS DOUBLE) AS o_totalprice,
           'insert' AS _change_type
    FROM orders WHERE o_orderstatus = 'P'
    UNION ALL
    SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice,
           'delete' AS _change_type
    FROM orders WHERE o_orderstatus = 'P'
    """,
)
def vintage_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC read (the batch half of Delta's change feed): after a predicate
    update, diff(v0) must emit exactly one delete+insert pair per updated
    row — unchanged rows in rewritten files cancel in the exceptAll, and
    files untouched by the update are never read at all."""
    t = _fresh_vintage(spark, sf_dir)
    t.update("o_orderstatus = 'P'", {"o_totalprice": F.lit(0.0)})
    return t.diff(0)


@_q(
    "vintage_replace_where",
    # rows outside the predicate untouched; rows inside replaced by the
    # reload (here: the same P orders with price zeroed)
    "SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice "
    "FROM orders WHERE o_orderstatus <> 'P' "
    "UNION ALL "
    "SELECT o_orderkey, o_orderstatus, CAST(0.0 AS DOUBLE) AS o_totalprice "
    "FROM orders WHERE o_orderstatus = 'P'",
)
def vintage_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 extension — Delta's ``replaceWhere``: ONE commit swaps exactly
    the predicate's rows for the incoming reload (the idempotent
    date-range/partition recompute pattern). Only files containing
    matching rows rewrite; incoming rows are validated against the
    predicate from the staged parquet."""
    t = _fresh_vintage(spark, sf_dir)
    reload_df = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "P")
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.lit(0.0).cast("double").alias("o_totalprice"),
        )
    )
    t.write(reload_df, mode="overwrite", replace_where="o_orderstatus = 'P'")
    return t.read()


@_q(
    "vintage_cluster_scan",
    "SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice "
    "FROM orders WHERE o_orderkey BETWEEN 1000 AND 2000",
)
def vintage_cluster_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustered ingest + data-skipping read: write(cluster_by) lays files
    out range-disjoint, read_where lists only zone-matching files before
    the exact row filter (pruning itself is asserted in
    tests/test_data_skipping.py; the oracle checks the visible rows)."""
    import tempfile

    from sdlt_spark.store import VintageTable

    t = VintageTable(spark, tempfile.mkdtemp(prefix="sdlt_cluster_") + "/orders")
    t.write(_orders_proj(spark, sf_dir), cluster_by=["o_orderkey"], num_files=8)
    return t.read_where("o_orderkey", 1000, 2000)


@_q("vintage_sql_scan", _ORDERS_PROJ_SQL)
def vintage_sql_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 through the registered batch data source: the same snapshot read
    as vintage_scan, but via spark.read.format('vintage') — the SQL-first
    access path (store/batch_source.py) — rather than the VintageTable
    API."""
    from sdlt_spark.store.batch_source import VintageSnapshotDataSource

    spark.dataSource.register(VintageSnapshotDataSource)
    t = _fresh_vintage(spark, sf_dir)
    return (
        spark.read.format("vintage")
        .option("path", t.path)
        .load()
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


@_q("vintage_sql_write", _ORDERS_PROJ_SQL)
def vintage_sql_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 through the registered data source WRITE path — the reference's
    actual write UX (README.md:92 ``df.write.format("delta")``):
    df.write.format('vintage').mode('overwrite') stages Arrow batches as
    parquet on executors and publishes ONE atomic commit, then the same
    source reads the snapshot back."""
    import tempfile

    from sdlt_spark.store.batch_source import VintageSnapshotDataSource

    spark.dataSource.register(VintageSnapshotDataSource)
    path = tempfile.mkdtemp(prefix="sdlt_sqlwrite_") + "/orders"
    (
        _orders_proj(spark, sf_dir)
        .write.format("vintage")
        .mode("overwrite")
        .option("path", path)
        .save()
    )
    return (
        spark.read.format("vintage")
        .option("path", path)
        .load()
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


@_q(
    "vintage_sql_dml",
    """
    WITH src AS (
      SELECT o_orderkey, 'U' AS o_orderstatus,
             round(o_totalprice * 2.0, 2) AS o_totalprice
      FROM orders WHERE o_orderkey % 10 = 0
    ),
    merged AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM src
      UNION ALL
      SELECT o.o_orderkey, o.o_orderstatus,
             round(o.o_totalprice, 2) AS o_totalprice
      FROM orders o ANTI JOIN src s USING (o_orderkey)
    )
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderstatus = 'P' THEN CAST(0.0 AS DOUBLE)
                ELSE o_totalprice END AS o_totalprice
    FROM merged WHERE o_orderstatus <> 'F'
    """,
)
def vintage_sql_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL DML surface end-to-end (MERGE INTO / DELETE FROM / UPDATE
    / SELECT over a registered table — how most lakehouse users drive
    Delta; the reference's API choreography re-expressed as statements):
    an upsert, a predicate delete, and a predicate update land as three
    commits via :class:`sdlt_spark.sql_dml.SqlDispatcher`, each hitting
    the same CoW verbs as the Python API."""
    from sdlt_spark.sql_dml import SqlDispatcher

    d = SqlDispatcher(spark)
    d.register("orders_v", _fresh_vintage(spark, sf_dir))
    _merge_src(spark, sf_dir).createOrReplaceTempView("sql_dml_src")
    d.sql(
        "MERGE INTO orders_v USING sql_dml_src "
        "ON orders_v.o_orderkey = sql_dml_src.o_orderkey "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    d.sql("DELETE FROM orders_v WHERE o_orderstatus = 'F'")
    d.sql(
        "UPDATE orders_v SET o_totalprice = CAST(0.0 AS DOUBLE) "
        "WHERE o_orderstatus = 'P'"
    )
    return d.sql(
        "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders_v"
    )


@_q(
    "vintage_sql_maintenance",
    # delete -> RESTORE (undo, back to the full projection) -> OPTIMIZE
    # (dataChange=false: logically invisible) -> VACUUM (physical only) ->
    # CTAS filtering F: the final table is the projection minus F orders
    "SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice "
    "FROM orders WHERE o_orderstatus <> 'F'",
)
def vintage_sql_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL MAINTENANCE verbs end-to-end (round-9 verdict item 2 —
    delta-spark users type these as statements, reference ops
    README.md:403-415): DELETE, then RESTORE ... TO VERSION AS OF undoes
    it (metadata-only rollback), OPTIMIZE compacts with dataChange=false,
    VACUUM RETAIN 0 HOURS physically drops the dead pre-restore files,
    and CREATE TABLE ... AS materializes a filtered snapshot into a NEW
    registered table the final SELECT reads."""
    import tempfile

    from sdlt_spark.sql_dml import SqlDispatcher

    d = SqlDispatcher(spark)
    d.register("orders_m", _fresh_vintage(spark, sf_dir))
    vd = d.sql("DELETE FROM orders_m WHERE o_orderstatus = 'F'").head()["version"]
    d.sql(f"RESTORE TABLE orders_m TO VERSION AS OF {vd - 1}")
    d.sql("OPTIMIZE orders_m")
    d.sql("VACUUM orders_m RETAIN 0 HOURS")
    ctas_loc = tempfile.mkdtemp(prefix="sdlt_ctas_") + "/orders"
    d.sql(
        f"CREATE TABLE orders_ctas LOCATION '{ctas_loc}' AS "
        "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders_m "
        "WHERE o_orderstatus <> 'F'"
    )
    return d.sql(
        "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders_ctas"
    )


def _delta_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Hand-build a REAL Delta table (JSON ``_delta_log``) holding the
    orders projection: v0 loads a full file, v1 'compacts' it into two
    files (remove + adds) — so reading the latest snapshot exercises
    genuine log replay (an ignored remove would double every row)."""
    import tempfile

    from sdlt_spark.store.delta_write import DeltaLogWriter

    root = tempfile.mkdtemp(prefix="sdlt_delta_") + "/orders"
    proj = _orders_proj(spark, sf_dir)

    def _write(sub: str, frame: DataFrame) -> list[str]:
        import os as _os

        abs_dir = _os.path.join(root, sub)
        frame.write.mode("errorifexists").parquet(abs_dir)
        return [
            f"{sub}/{f}"
            for f in sorted(_os.listdir(abs_dir))
            if f.endswith(".parquet")
        ]

    full = _write("c0", proj.coalesce(1))
    lo = _write("c1a", proj.filter(F.col("o_orderkey") % 2 == 0).coalesce(1))
    hi = _write("c1b", proj.filter(F.col("o_orderkey") % 2 != 0).coalesce(1))
    w = DeltaLogWriter(root)
    w.commit(adds=[(f, {}) for f in full], schema_json=proj.schema.json())
    w.commit(
        adds=[(f, {}) for f in lo + hi], removes=full, operation="OPTIMIZE"
    )
    return root


@_q("delta_scan", _ORDERS_PROJ_SQL)
def delta_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta Lake read interop (the reference's actual on-disk format —
    README.md:92 writes ``format("delta")``): replay a real ``_delta_log``
    (store/delta_read.py) and scan the snapshot. The fixture's v1 removed
    v0's file, so a replay bug surfaces as a row-count/hash mismatch."""
    from sdlt_spark.store.delta_read import DeltaTableReader

    return DeltaTableReader(spark, _delta_fixture(spark, sf_dir)).read()


@_q("delta_time_travel", _ORDERS_PROJ_SQL)
def delta_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta ``versionAsOf`` on a replayed ``_delta_log`` (README.md:169):
    v0 pre-dates the compaction commit and must read bit-for-bit the same
    projection from the original file."""
    from sdlt_spark.store.delta_read import DeltaTableReader

    return DeltaTableReader(spark, _delta_fixture(spark, sf_dir)).read(version=0)


@_q("delta_export", _ORDERS_PROJ_SQL)
def delta_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VintageTable -> Delta export round-trip: publish the snapshot as a
    spec-shaped Delta table (store/delta_write.py) and read it back through
    the independent log-replay reader — the bridge for downstream systems
    that only speak Delta."""
    import tempfile

    from sdlt_spark.store.delta_read import DeltaTableReader
    from sdlt_spark.store.delta_write import export_vintage_to_delta

    t = _fresh_vintage(spark, sf_dir)
    dest = tempfile.mkdtemp(prefix="sdlt_delta_export_") + "/orders"
    export_vintage_to_delta(t, dest)
    return DeltaTableReader(spark, dest).read()


@_q(
    "delta_export_sync",
    "SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice "
    "FROM orders WHERE o_orderstatus <> 'F'",
)
def delta_export_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental Delta export (round-5 verdict item 3): export once,
    mutate the source (DV delete — which also proves the exporter folds
    DVs without touching the source, item 2), re-export to the SAME dest.
    The second export commits only the diff as a new Delta version; the
    independent log-replay reader must see the post-delete snapshot."""
    import tempfile

    from sdlt_spark.store.delta_read import DeltaTableReader
    from sdlt_spark.store.delta_write import export_vintage_to_delta

    t = _fresh_vintage(spark, sf_dir)
    dest = tempfile.mkdtemp(prefix="sdlt_delta_sync_") + "/orders"
    v0 = export_vintage_to_delta(t, dest)
    t.delete("o_orderstatus = 'F'", mode="dv")
    v1 = export_vintage_to_delta(t, dest)
    assert v1 == v0 + 1, (v0, v1)
    return DeltaTableReader(spark, dest).read()


@_q(
    "delta_scan_dv",
    "SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice "
    "FROM orders WHERE o_orderkey % 7 <> 0",
)
def delta_scan_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta deletion-vector read (round-5 verdict item 1): a DV-bearing
    add action — the default table shape from modern Delta writers — whose
    roaring-bitmap sidecar (storageType 'u', Z85 uuid path, framed blob,
    store/delta_dv.py) hides the rows with o_orderkey % 7 == 0. Reading
    raw files would resurrect them; the oracle proves the DV is applied
    exactly. Shares the fixture with the batch/streaming CDF queries."""
    from sdlt_spark.store.delta_read import DeltaTableReader

    return DeltaTableReader(spark, _delta_dv_history_fixture(spark, sf_dir)).read()


def _delta_dv_history_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Two-commit Delta fixture shared by the batch and streaming CDF
    queries: v0 adds the orders projection, v1 DV-deletes the rows with
    o_orderkey % 7 == 0 (roaring sidecars, positions derived from the
    written files' actual row order)."""
    import os as _os
    import tempfile

    import pyarrow.parquet as _pq

    from sdlt_spark.store.delta_dv import write_dv_file
    from sdlt_spark.store.delta_write import DeltaLogWriter

    root = tempfile.mkdtemp(prefix="sdlt_delta_cdc_") + "/orders"
    proj = _orders_proj(spark, sf_dir).coalesce(1)
    abs_dir = _os.path.join(root, "full")
    proj.write.mode("errorifexists").parquet(abs_dir)
    rels = [
        f"full/{f}"
        for f in sorted(_os.listdir(abs_dir))
        if f.endswith(".parquet")
    ]
    w = DeltaLogWriter(root)
    w.commit(adds=[(r, {}) for r in rels], schema_json=proj.schema.json())
    dvs = {}
    for i, rel in enumerate(rels):
        keys = (
            _pq.read_table(_os.path.join(root, rel), columns=["o_orderkey"])
            .column("o_orderkey")
            .to_pylist()
        )
        pos = [p for p, k in enumerate(keys) if k % 7 == 0]
        if pos:
            dvs[rel] = write_dv_file(
                root, pos, f"00000000-0000-4000-9000-{i:012d}", prefix="cd"
            )
    w.commit(
        adds=[(r, {}) for r in rels if r in dvs], dvs=dvs, operation="DELETE"
    )
    return root


@_q(
    "delta_cdc_scan",
    # CDF over (v0 insert-all, v1 DV-delete of o_orderkey%7==0): every row
    # as insert@0 plus the deleted subset as delete@1
    "SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice, "
    "'insert' AS _change_type, CAST(0 AS BIGINT) AS _commit_version FROM orders "
    "UNION ALL "
    "SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice, "
    "'delete' AS _change_type, CAST(1 AS BIGINT) AS _commit_version FROM orders "
    "WHERE o_orderkey % 7 = 0",
)
def delta_cdc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change Data Feed read over a REAL Delta log: file-level derivation
    (add=insert) for v0, deletion-vector DIFF derivation for v1 (the
    newly-covered positions — and only those — emit as deletes, exactly
    delta-spark's DV CDF rule). The oracle reconstructs both change sets
    relationally."""
    from sdlt_spark.store.delta_read import DeltaTableReader

    root = _delta_dv_history_fixture(spark, sf_dir)
    return DeltaTableReader(spark, root).table_changes(0)


@_q(
    "delta_cdc_stream",
    # identical change history to delta_cdc_scan, consumed through the
    # STREAMING source instead of the batch reader — same oracle proves
    # the two paths agree (they share walk_changes by construction)
    "SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice, "
    "'insert' AS _change_type, CAST(0 AS BIGINT) AS _commit_version FROM orders "
    "UNION ALL "
    "SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice, "
    "'delete' AS _change_type, CAST(1 AS BIGINT) AS _commit_version FROM orders "
    "WHERE o_orderkey % 7 = 0",
)
def delta_cdc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 x S10: Structured Streaming over a REAL ``_delta_log`` (the
    delta-spark ``readStream.format("delta")`` UX without the jars) —
    stream offsets are Delta versions, executors apply roaring DV masks
    locally, and the memory-sink result hash-matches the same relational
    oracle as the batch CDF read."""
    import uuid as _uuid

    from sdlt_spark.streaming.delta_source import DeltaChangeDataSource

    spark.dataSource.register(DeltaChangeDataSource)
    root = _delta_dv_history_fixture(spark, sf_dir)
    sink = f"delta_cdc_stream_{_uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("delta_cdc")
        .option("path", root)
        .option("startingVersion", 0)
        .load()
        .writeStream.format("memory")
        .queryName(sink)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(sink)


@_q("delta_append_stream", _ORDERS_PROJ_SQL)
def delta_append_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """delta-spark's PLAIN ``readStream`` semantics (mode=appends on the
    delta_cdc source): micro-batches are the appended table rows — no
    CDC bookkeeping columns — and the data-modifying commit in the
    fixture's history is dropped whole by skipChangeCommits (without it
    the stream fails loudly, stock behavior). Three append commits flow,
    so the memory-sink content equals the full projection."""
    import os as _os
    import tempfile
    import uuid as _uuid

    from sdlt_spark.store.delta_write import DeltaLogWriter
    from sdlt_spark.streaming.delta_source import DeltaChangeDataSource

    spark.dataSource.register(DeltaChangeDataSource)
    root = tempfile.mkdtemp(prefix="sdlt_delta_app_") + "/orders"
    proj = _orders_proj(spark, sf_dir)
    w = DeltaLogWriter(root)
    for part in range(3):
        sub = f"c{part}"
        abs_dir = _os.path.join(root, sub)
        proj.filter(F.col("o_orderkey") % 3 == part).coalesce(1).write.mode(
            "errorifexists"
        ).parquet(abs_dir)
        rels = [
            f"{sub}/{f}"
            for f in sorted(_os.listdir(abs_dir))
            if f.endswith(".parquet")
        ]
        w.commit(
            adds=[(r, {}) for r in rels],
            schema_json=proj.schema.json() if part == 0 else None,
        )
        if part == 0:
            # a data-modifying commit mid-history (DELETE of the first
            # appended file) — appends mode must drop it WHOLE under
            # skipChangeCommits; the file's rows already streamed at v0,
            # so the sink still holds the full projection
            w.commit(removes=[rels[0]], operation="DELETE")
    sink = f"delta_append_{_uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("delta_cdc")
        .option("path", root)
        .option("mode", "appends")
        .option("skipChangeCommits", "true")
        .option("startingVersion", 0)
        .load()
        .writeStream.format("memory")
        .queryName(sink)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(sink)


@_q(
    "delta_import",
    "SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice "
    "FROM orders WHERE o_orderkey % 7 <> 0",
)
def delta_import(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inbound bridge: zero-copy IMPORT of a DV-bearing Delta table into a
    VintageTable (store/delta_read.py import_delta_to_vintage) — v0
    points at the Delta files in place, roaring DVs translate to vintage
    (file, pos) sidecars, stats carry over. The vintage read must equal
    the Delta snapshot (same oracle as delta_scan_dv by construction)."""
    import tempfile

    from sdlt_spark.store.delta_read import import_delta_to_vintage

    root = _delta_dv_history_fixture(spark, sf_dir)
    t = import_delta_to_vintage(
        spark, root, tempfile.mkdtemp(prefix="sdlt_delta_import_") + "/vt"
    )
    return t.read()


@_q(
    "delta_column_mapping",
    "SELECT o_orderkey AS order_id, o_orderstatus AS status, "
    "round(o_totalprice, 2) AS total FROM orders",
)
def delta_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta column mapping, 'name' mode (round-5 verdict item 5): data
    files carry opaque physical names (col-<uuid> style); the log's schema
    metadata maps them to logical names — including a post-creation
    RENAME, the operation that turns mapping on. The read must surface
    logical names only."""
    import json as _json
    import os as _os
    import tempfile

    from sdlt_spark.store.delta_read import DeltaTableReader
    from sdlt_spark.store.delta_write import DeltaLogWriter

    root = tempfile.mkdtemp(prefix="sdlt_delta_cm_") + "/orders"
    physical = {"order_id": "col-a7", "status": "col-b8", "total": "col-c9"}
    proj = (
        _orders_proj(spark, sf_dir)
        .select(
            F.col("o_orderkey").alias("col-a7"),
            F.col("o_orderstatus").alias("col-b8"),
            F.col("o_totalprice").alias("col-c9"),
        )
        .coalesce(1)
    )
    abs_dir = _os.path.join(root, "full")
    proj.write.mode("errorifexists").parquet(abs_dir)
    rels = [
        f"full/{f}"
        for f in sorted(_os.listdir(abs_dir))
        if f.endswith(".parquet")
    ]
    logical_types = {"order_id": "long", "status": "string", "total": "double"}
    schema_json = _json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": name,
                    "type": logical_types[name],
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": i + 1,
                        "delta.columnMapping.physicalName": physical[name],
                    },
                }
                for i, name in enumerate(["order_id", "status", "total"])
            ],
        }
    )
    w = DeltaLogWriter(root)
    w.commit(adds=[(r, {}) for r in rels], schema_json=schema_json)
    # flip mapping on via a metaData rewrite (the writer emits configuration
    # only through schema_json; patch the commit's metaData configuration)
    commit0 = _os.path.join(root, "_delta_log", f"{0:020d}.json")
    lines = []
    with open(commit0) as fh:
        for line in fh:
            action = _json.loads(line)
            if "metaData" in action:
                action["metaData"]["configuration"] = {
                    "delta.columnMapping.mode": "name",
                    "delta.columnMapping.maxColumnId": "3",
                }
            lines.append(_json.dumps(action))
    with open(commit0, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return DeltaTableReader(spark, root).read()


@_q("delta_scan_v2", _ORDERS_PROJ_SQL)
def delta_scan_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2 (UUID-named manifest + _sidecars) checkpoint replay — the
    default modern-table shape (round-6 verdict item 1): the fixture's
    JSON commits are all cleaned up after a write_checkpoint(v2=True), so
    the read resolves ENTIRELY through the v2 checkpoint; an unparsed
    sidecar or manifest surfaces as zero rows / hash mismatch."""
    import os as _os

    from sdlt_spark.store.delta_read import DeltaTableReader
    from sdlt_spark.store.delta_write import DeltaLogWriter

    root = _delta_fixture(spark, sf_dir)
    DeltaLogWriter(root).write_checkpoint(v2=True)
    log = _os.path.join(root, "_delta_log")
    for f in _os.listdir(log):
        if f.endswith(".json") and f[:-5].isdigit():
            _os.remove(_os.path.join(log, f))
    return DeltaTableReader(spark, root).read()


@_q(
    "delta_column_mapping_id",
    "SELECT o_orderkey AS order_id, o_orderstatus AS status, "
    "round(o_totalprice, 2) AS total FROM orders",
)
def delta_column_mapping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta column mapping, 'id' mode (round-6 verdict item 2): the scan
    matches parquet columns by FIELD ID from the footer — the fixture's
    file column names (f1/f2/f3) match neither the logical nor the
    physical names, so only id matching can read it (the shape of tables
    converted from Iceberg)."""
    import json as _json
    import os as _os
    import tempfile

    from sdlt_spark.store.delta_read import DeltaTableReader
    from sdlt_spark.store.delta_write import DeltaLogWriter

    root = tempfile.mkdtemp(prefix="sdlt_delta_cmid_") + "/orders"
    proj = (
        _orders_proj(spark, sf_dir)
        .select(
            F.col("o_orderkey").alias("f1"),
            F.col("o_orderstatus").alias("f2"),
            F.col("o_totalprice").alias("f3"),
        )
        .coalesce(1)
    )
    # stamp parquet field ids into the written footers (Spark writes them
    # from the schema's parquet.field.id metadata)
    for i, c in enumerate(["f1", "f2", "f3"]):
        proj = proj.withMetadata(c, {"parquet.field.id": i + 1})
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    abs_dir = _os.path.join(root, "full")
    proj.write.mode("errorifexists").parquet(abs_dir)
    rels = [
        f"full/{f}" for f in sorted(_os.listdir(abs_dir)) if f.endswith(".parquet")
    ]
    logical_types = {"order_id": "long", "status": "string", "total": "double"}
    schema_json = _json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": name,
                    "type": logical_types[name],
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": i + 1,
                        "delta.columnMapping.physicalName": f"col-phys-{i + 1}",
                    },
                }
                for i, name in enumerate(["order_id", "status", "total"])
            ],
        }
    )
    w = DeltaLogWriter(root)
    w.commit(adds=[(r, {}) for r in rels], schema_json=schema_json)
    commit0 = _os.path.join(root, "_delta_log", f"{0:020d}.json")
    lines = []
    with open(commit0) as fh:
        for line in fh:
            action = _json.loads(line)
            if "metaData" in action:
                action["metaData"]["configuration"] = {
                    "delta.columnMapping.mode": "id",
                    "delta.columnMapping.maxColumnId": "3",
                }
            lines.append(_json.dumps(action))
    with open(commit0, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return DeltaTableReader(spark, root).read()


@_q("delta_stream_sink", _ORDERS_PROJ_SQL)
def delta_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Delta SINK (round-6 verdict item 5, the write-side twin
    of delta_cdc): a file-source stream drains micro-batches through
    foreachBatch into a real Delta table with txnAppId/txnVersion
    exactly-once bookkeeping; the result is read back through the
    INDEPENDENT log-replay reader. Whatever the micro-batch boundaries,
    every input row lands exactly once — so the final content has an
    exact relational oracle."""
    import os as _os
    import tempfile

    from sdlt_spark.store.delta_read import DeltaTableReader
    from sdlt_spark.streaming.delta_sink import DeltaStreamSink

    base = tempfile.mkdtemp(prefix="sdlt_delta_sink_")
    src = _os.path.join(base, "in")
    proj = _orders_proj(spark, sf_dir)
    proj.repartition(2).write.mode("errorifexists").parquet(src)
    dest = _os.path.join(base, "orders")
    stream = (
        spark.readStream.schema(proj.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(DeltaStreamSink(dest, "sdlt-sink"))
        .option("checkpointLocation", _os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("delta_stream_sink: stream did not drain in 300s")
    return DeltaTableReader(spark, dest).read()


@_q("delta_optimize", _ORDERS_PROJ_SQL)
def delta_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta OPTIMIZE (bin-packing compaction) on a written Delta table —
    the maintenance op a streaming-sink table needs: 6 small files
    bin-pack into one ~target-size rewrite committed dataChange=false
    (CDC-silent), content bit-identical. The read after OPTIMIZE must
    hash-match the plain projection oracle."""
    import os as _os
    import tempfile

    from sdlt_spark.store.delta_read import DeltaTableReader
    from sdlt_spark.store.delta_write import DeltaLogWriter, optimize_delta_export

    root = tempfile.mkdtemp(prefix="sdlt_delta_opt_") + "/orders"
    proj = _orders_proj(spark, sf_dir)
    abs_dir = _os.path.join(root, "data")
    proj.repartition(6).write.mode("errorifexists").parquet(abs_dir)
    rels = [
        f"data/{f}" for f in sorted(_os.listdir(abs_dir)) if f.endswith(".parquet")
    ]
    w = DeltaLogWriter(root)
    w.commit(adds=[(r, {}) for r in rels], schema_json=proj.schema.json())
    produced = optimize_delta_export(root, spark, target_file_bytes=1 << 30)
    assert len(produced) == 1, produced  # all six packed into one
    return DeltaTableReader(spark, root).read()


@_q("delta_zorder", _ORDERS_PROJ_SQL)
def delta_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta OPTIMIZE ZORDER BY on a written Delta table: all live files
    rewrite clustered on the Morton interleave of (o_orderkey, o_orderstatus)
    — the shared zcurve key the vintage compact uses — split to
    ~target-size files, committed dataChange=false with zOrderBy recorded.
    Content is invariant (hash-matches the plain projection oracle) while
    the produced files' log stats cover narrow key ranges for data
    skipping."""
    import os as _os
    import tempfile

    from sdlt_spark.store.delta_read import DeltaTableReader
    from sdlt_spark.store.delta_write import DeltaLogWriter, optimize_delta_export

    root = tempfile.mkdtemp(prefix="sdlt_delta_zorder_") + "/orders"
    proj = _orders_proj(spark, sf_dir)
    abs_dir = _os.path.join(root, "data")
    proj.repartition(4).write.mode("errorifexists").parquet(abs_dir)
    rels = [
        f"data/{f}" for f in sorted(_os.listdir(abs_dir)) if f.endswith(".parquet")
    ]
    w = DeltaLogWriter(root)
    w.commit(adds=[(r, {}) for r in rels], schema_json=proj.schema.json())
    produced = optimize_delta_export(
        root, spark, target_file_bytes=1 << 30, zorder_by=["o_orderkey", "o_orderstatus"]
    )
    assert produced, "zorder must rewrite the live set"
    return DeltaTableReader(spark, root).read()


@_q(
    "delta_min_max",
    "SELECT CAST(min(o_orderkey) AS BIGINT) AS lo, "
    "CAST(max(o_orderkey) AS BIGINT) AS hi, "
    "CAST(count(*) AS BIGINT) AS n FROM orders",
)
def delta_min_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-plane aggregates over a Delta table: min/max from the add
    actions' stats and COUNT(*) from numRecords — log-replay cost instead
    of a table scan (DeltaTableReader.min_max / .count). The fixture's
    replay includes a remove, so stale-file stats leaking in would
    mismatch."""
    from sdlt_spark.store.delta_read import DeltaTableReader

    root = _delta_fixture(spark, sf_dir)
    r = DeltaTableReader(spark, root)
    lo, hi = r.min_max("o_orderkey")
    return spark.createDataFrame(
        [(int(lo), int(hi), int(r.count()))], "lo bigint, hi bigint, n bigint"
    )


@_q(
    "delta_delete",
    "SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice "
    "FROM orders WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 4 = 1)",
)
def delta_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write predicate DELETE against a written Delta table
    (store/delta_mutate.py) — the reference's predicate delete
    (README.md:281) executed as a real remove+add commit on the open
    format; only files containing matches rewrite."""
    from sdlt_spark.store.delta_mutate import delete_delta_export
    from sdlt_spark.store.delta_read import DeltaTableReader

    root = _delta_fixture(spark, sf_dir)
    delete_delta_export(
        root, spark, "o_orderstatus = 'F' AND o_orderkey % 4 = 1"
    )
    return DeltaTableReader(spark, root).read()


@_q(
    "delta_delete_dv",
    "SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice "
    "FROM orders WHERE NOT (o_orderkey % 7 = 3)",
)
def delta_delete_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE: matched positions land as roaring
    deletion-vector sidecars (built executor-side), zero data files
    rewritten; the snapshot read applies the DV anti-join."""
    from sdlt_spark.store.delta_mutate import delete_delta_export
    from sdlt_spark.store.delta_read import DeltaTableReader

    root = _delta_fixture(spark, sf_dir)
    delete_delta_export(root, spark, "o_orderkey % 7 = 3", mode="dv")
    return DeltaTableReader(spark, root).read()


@_q(
    "delta_update",
    "SELECT o_orderkey, o_orderstatus, "
    "CASE WHEN o_orderstatus = 'P' THEN round(o_totalprice, 2) + 1.0 "
    "ELSE round(o_totalprice, 2) END AS o_totalprice FROM orders",
)
def delta_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write predicate UPDATE on a written Delta table:
    assignments apply to the pre-update row (cast to the column's type),
    NULL-predicate rows stay, only matching files rewrite."""
    from sdlt_spark.store.delta_mutate import update_delta_export
    from sdlt_spark.store.delta_read import DeltaTableReader

    root = _delta_fixture(spark, sf_dir)
    update_delta_export(
        root,
        spark,
        "o_orderstatus = 'P'",
        {"o_totalprice": "o_totalprice + 1.0"},
    )
    return DeltaTableReader(spark, root).read()


@_q(
    "delta_merge",
    """
    WITH src AS (
      SELECT o_orderkey, 'U' AS o_orderstatus,
             round(o_totalprice * 2.0, 2) AS o_totalprice
      FROM orders WHERE o_orderkey % 10 = 0
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM src
    UNION ALL
    SELECT o.o_orderkey, o.o_orderstatus, round(o.o_totalprice, 2) AS o_totalprice
    FROM orders o ANTI JOIN src s ON o.o_orderkey = s.o_orderkey
    """,
)
def delta_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE (whenMatchedUpdateAll + whenNotMatchedInsertAll) straight
    into a written Delta table — the reference's M1 merge
    (README.md:125-130) on the open format: one semi-join finds touched
    files, only those rewrite, unmatched source rows append."""
    from sdlt_spark.store.delta_mutate import merge_delta_export
    from sdlt_spark.store.delta_read import DeltaTableReader

    root = _delta_fixture(spark, sf_dir)
    merge_delta_export(
        root, spark, _merge_src(spark, sf_dir), ["o_orderkey"]
    )
    return DeltaTableReader(spark, root).read()


@_q("delta_clone", _ORDERS_PROJ_SQL)
def delta_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta SHALLOW CLONE: one metadata commit pointing at the source's
    files by absolute path (zero data movement at any table size —
    PROTOCOL.md-legal, the delta-spark CLONE shape). Reading the clone
    must hash-match the plain projection oracle through the
    absolute-path resolution."""
    import tempfile

    from sdlt_spark.store.delta_read import DeltaTableReader
    from sdlt_spark.store.delta_write import clone_delta_export

    src = _delta_fixture(spark, sf_dir)
    dest = tempfile.mkdtemp(prefix="sdlt_delta_clone_") + "/orders"
    clone_delta_export(src, dest)
    return DeltaTableReader(spark, dest).read()


@_q("delta_restore", _ORDERS_PROJ_SQL)
def delta_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta RESTORE on a written table: roll back past the fixture's
    compaction commit to v0 in ONE metadata commit (zero data movement),
    then read — must hash-match the plain projection through the
    restored file set. The metadata row-count shortcut is asserted
    against the restored state as a bonus invariant."""
    from sdlt_spark.store.delta_read import DeltaTableReader
    from sdlt_spark.store.delta_write import restore_delta_export

    root = _delta_fixture(spark, sf_dir)
    restore_delta_export(root, 0)
    r = DeltaTableReader(spark, root)
    df = r.read()
    assert r.count() == r.count(version=0)
    return df


def _partitioned_delta_fixture(spark: SparkSession, sf_dir: str) -> str:
    """A REAL partitioned Delta table of the orders projection: one data
    file per o_orderstatus, partition values ONLY in the log (Delta's
    on-disk layout — the column is not stored in the data files)."""
    import os as _os
    import tempfile

    from sdlt_spark.store.delta_write import DeltaLogWriter

    root = tempfile.mkdtemp(prefix="sdlt_delta_part_") + "/orders"
    proj = _orders_proj(spark, sf_dir)
    # bounded driver list: the partition values (3 statuses at any SF)
    statuses = sorted(
        r["o_orderstatus"] for r in proj.select("o_orderstatus").distinct().collect()
    )
    adds = []
    for s in statuses:
        sub = f"o_orderstatus={s}"
        frame = proj.filter(F.col("o_orderstatus") == s).drop("o_orderstatus")
        abs_dir = _os.path.join(root, sub)
        frame.coalesce(1).write.mode("errorifexists").parquet(abs_dir)
        adds += [
            (f"{sub}/{f}", {"o_orderstatus": s})
            for f in sorted(_os.listdir(abs_dir))
            if f.endswith(".parquet")
        ]
    DeltaLogWriter(root).commit(
        adds=adds,
        schema_json=proj.schema.json(),
        partition_columns=["o_orderstatus"],
    )
    return root


@_q("delta_import_partitioned", _ORDERS_PROJ_SQL)
def delta_import_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy import of a PARTITIONED Delta table (round-6 verdict item
    3): the fixture partitions orders by o_orderstatus (values live only
    in the log, per Delta's layout); the import carries them into the
    vintage per-file constant-column sidecar, and the read re-attaches
    the typed column via a broadcast map join — nothing rewritten."""
    import tempfile

    from sdlt_spark.store.delta_read import import_delta_to_vintage

    root = _partitioned_delta_fixture(spark, sf_dir)
    t = import_delta_to_vintage(
        spark, root, tempfile.mkdtemp(prefix="sdlt_delta_part_vt_") + "/vt"
    )
    return t.read().select("o_orderkey", "o_orderstatus", "o_totalprice")


@_q(
    "delta_export_partitioned_split",
    "SELECT o_orderkey, o_orderstatus, "
    "CASE WHEN o_orderkey % 5 = 0 THEN CAST(0.0 AS DOUBLE) "
    "ELSE round(o_totalprice, 2) END AS o_totalprice FROM orders",
)
def delta_export_partitioned_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned Delta -> vintage -> mutate -> partitioned Delta export
    (round-8: lifts the partial-materialization refusal). The CoW update
    materializes the partition column into rewritten files spanning every
    status; the export rewrite-splits those by partition value — each
    split add carries its partitionValues, untouched files still
    hard-link zero-copy — and the independent log-replay reader must see
    the post-update snapshot with the typed partition column."""
    import tempfile

    from sdlt_spark.store.delta_read import (
        DeltaTableReader,
        import_delta_to_vintage,
    )
    from sdlt_spark.store.delta_write import export_vintage_to_delta

    root = _partitioned_delta_fixture(spark, sf_dir)
    t = import_delta_to_vintage(
        spark, root, tempfile.mkdtemp(prefix="sdlt_delta_split_vt_") + "/vt"
    )
    t.update("o_orderkey % 5 = 0", {"o_totalprice": "CAST(0.0 AS DOUBLE)"})
    dest = tempfile.mkdtemp(prefix="sdlt_delta_split_") + "/orders"
    export_vintage_to_delta(t, dest)
    return (
        DeltaTableReader(spark, dest)
        .read()
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


@_q(
    "vintage_incremental_agg",
    # Oracle recomputes the FINAL snapshot's aggregate relationally
    # (merge-then-delete shape reused from vintage_merge / vintage_delete);
    # the Spark side never rescans that snapshot — it folds the change feed
    # onto the v0 seed. DECIMAL sums make both sides order-proof.
    """
    WITH src AS (
      SELECT o_orderkey, 'U' AS o_orderstatus,
             round(o_totalprice * 2.0, 2) AS o_totalprice
      FROM orders WHERE o_orderkey % 10 = 0
    ),
    merged AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM src
      UNION ALL
      SELECT o.o_orderkey, o.o_orderstatus, round(o.o_totalprice, 2) AS o_totalprice
      FROM orders o ANTI JOIN src s ON o.o_orderkey = s.o_orderkey
    ),
    final AS (SELECT * FROM merged WHERE NOT (o_orderstatus = 'F'))
    SELECT o_orderstatus, count(*) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
    FROM final GROUP BY o_orderstatus
    """,
)
def vintage_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance over the change feed: per-status order
    count + exact revenue total maintained from the v0 seed plus CDC deltas
    of a merge and a delete — O(changed rows) per refresh instead of a full
    snapshot rescan (operators/incremental.py)."""
    from sdlt_spark.operators.incremental import incremental_agg
    from sdlt_spark.store import VintageTable

    clone = _fresh_vintage(spark, sf_dir)
    t = VintageTable(spark, clone.path, change_feed=True)
    t.merge(_merge_src(spark, sf_dir), ["o_orderkey"])
    t.delete("o_orderstatus = 'F'")
    return incremental_agg(t, ["o_orderstatus"], "o_totalprice")


# ---------------------------------------------------------------------------
# §2.11 — LLM-data-pipeline extensions over documents/embeddings
# ---------------------------------------------------------------------------

from sdlt_spark.operators import dedup as _dedup  # noqa: E402
from sdlt_spark.operators import multimodal as _mm  # noqa: E402
from sdlt_spark.operators import similarity as _sim  # noqa: E402
from sdlt_spark.operators import text as _text  # noqa: E402
from sdlt_spark.operators import timeseries as _ts  # noqa: E402


@_q(
    "dedup_exact",
    """
    SELECT md5(lower(trim(text))) AS fp,
           min(doc_id) AS doc_id,
           count(*) AS n_dups
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: exact dedup keyed on the md5 fingerprint (16-byte shuffle key)."""
    return _dedup.exact_dedup(_t(spark, sf_dir, "documents"), "doc_id")


@_q(
    "exact_substring_dedup",
    # the full Lee et al. ExactSubstr pipeline replayed declaratively in
    # DuckDB: rolling 8-token windows -> rank occurrences per window ->
    # non-first occurrences become cut ranges -> islands-merge to maximal
    # spans -> rebuild each text without its cut tokens
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t, text FROM documents
    ),
    p AS (
      SELECT doc_id, t, unnest(generate_series(0, len(t) - 8)) AS pos FROM toks
    ),
    wins AS (
      SELECT doc_id, pos, array_to_string(t[pos+1:pos+8], ' ') AS w FROM p
    ),
    ranked AS (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY w ORDER BY doc_id, pos) AS rn
      FROM wins
    ),
    cuts AS (SELECT doc_id, pos AS s, pos + 8 AS e FROM ranked WHERE rn > 1),
    brk AS (
      SELECT doc_id, s, e,
             CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
                  ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1
                  PRECEDING), -1) THEN 1 ELSE 0 END AS b
      FROM cuts
    ),
    isl AS (
      SELECT doc_id, s, e,
             sum(b) OVER (PARTITION BY doc_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
      FROM brk
    ),
    spans AS (
      SELECT doc_id, min(s) AS s, max(e) AS e FROM isl GROUP BY doc_id, g
    ),
    tokrows AS (
      SELECT doc_id, unnest(t) AS tok,
             unnest(generate_series(0, len(t) - 1)) AS i
      FROM toks
    ),
    kept AS (
      SELECT tr.doc_id, tr.i, tr.tok FROM tokrows tr
      WHERE NOT EXISTS (SELECT 1 FROM spans sp
                        WHERE sp.doc_id = tr.doc_id
                          AND tr.i >= sp.s AND tr.i < sp.e)
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS text2,
             count(*) AS nk
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           CASE WHEN sp.doc_id IS NULL THEN d.text
                ELSE coalesce(r.text2, '') END AS text,
           CAST(CASE WHEN sp.doc_id IS NULL THEN 0
                ELSE len(string_split(d.text, ' ')) - coalesce(r.nk, 0)
                END AS INT) AS removed_tokens
    FROM documents d
    LEFT JOIN (SELECT DISTINCT doc_id FROM spans) sp USING (doc_id)
    LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-family, Lee et al. 2022 ExactSubstr: remove every non-first
    occurrence of any >=8-token run duplicated anywhere in the corpus
    (across documents or repeated within one), merging overlapping cut
    windows into maximal spans — see operators/dedup.py::
    exact_substring_dedup for the plan-shape story (codegen'd window
    explode, one shuffle to rank occurrences, islands merge, HOF rebuild;
    key='hash' is the 8-byte-shuffle 100 TB path, the oracle replays the
    exact key='string' form)."""
    return _dedup.exact_substring_dedup(
        _t(spark, sf_dir, "documents"), "doc_id", "text", min_tokens=8
    )


@_q(
    "token_counts",
    """
    SELECT token, count(*) AS cnt FROM (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ) GROUP BY token
    """,
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: corpus token histogram (split -> explode -> count; partial aggs
    make this one light shuffle of (token, count) pairs)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@_q(
    "warc_extract",
    """
    SELECT CAST(doc_id % 32 AS BIGINT) AS archive_id,
           CAST(row_number() OVER (PARTITION BY doc_id % 32 ORDER BY doc_id)
                - 1 AS INTEGER) AS rec_no,
           'response' AS warc_type,
           'http://example.com/doc/' || CAST(doc_id AS STRING) AS uri,
           CAST(length(text) AS BIGINT) AS content_length,
           substr(text, 1, 30) AS payload_head
    FROM documents
    """,
)
def warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-archive ingestion (operators/text.py warc_records): the
    fixture packs documents into WARC-style archives (length-framed
    records, 32 blobs), and the parser splits them back at scan speed —
    pure JVM regexp split + posexplode + codegen'd header extraction, no
    Python in the row path. The oracle recomputes every record field
    closed-form from the source documents, so a mis-split, header
    mis-parse, or payload off-by-one all hash-mismatch."""
    from sdlt_spark.operators.text import warc_records

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    rec = F.concat(
        F.lit(
            "WARC/1.0\r\nWARC-Type: response\r\n"
            "WARC-Target-URI: http://example.com/doc/"
        ),
        F.col("doc_id").cast("string"),
        F.lit("\r\nContent-Length: "),
        F.length("text").cast("string"),
        F.lit("\r\n\r\n"),
        F.col("text"),
        F.lit("\r\n\r\n"),
    )
    arch = (
        docs.select(
            (F.col("doc_id") % 32).alias("archive_id"),
            F.struct(F.col("doc_id"), rec.alias("rec")).alias("s"),
        )
        .groupBy("archive_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("s")), lambda x: x["rec"]
                ),
                "",
            ).alias("content")
        )
    )
    return warc_records(arch).select(
        "archive_id",
        "rec_no",
        "warc_type",
        "uri",
        "content_length",
        F.substring("payload", 1, 30).alias("payload_head"),
    )


@_q(
    "heavy_hitters",
    """
    WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    SELECT token, count(*) AS cnt FROM toks GROUP BY token
    HAVING count(*) * 50 > (SELECT count(*) FROM toks)
    """,
)
def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters (tokens above a 1/50 corpus share) with bounded
    per-task memory: two-pass Misra-Gries candidates + recount
    (operators/text.py heavy_hitters) — the shape that survives a
    vocabulary too large for per-partition hash aggregates. The oracle
    recomputes the same set relationally, proving the sketch pass loses
    nothing."""
    from sdlt_spark.operators.text import heavy_hitters as _hh

    return _hh(_t(spark, sf_dir, "documents"), "text", k=50)


@_q(
    "weighted_sample",
    """
    SELECT doc_id, lang, n_chars FROM (
      SELECT doc_id, lang, n_chars,
             round(ln((CAST('0x' || substr(md5(concat_ws(':', 'wsample-v1',
                       CAST(doc_id AS STRING))), 1, 13) AS BIGINT) + 1.0)
                      / 4503599627370497.0), 12) / n_chars AS k
      FROM documents WHERE n_chars > 0
    ) ORDER BY k DESC, doc_id LIMIT 100
    """,
)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional sampling without replacement (Efraimidis-
    Spirakis exponential keys, operators/sampling.py weighted_sample):
    the 100 documents drawn with probability proportional to length,
    deterministically. TakeOrdered plan — per-partition heaps, no corpus
    shuffle; the oracle evaluates the identical portable key expression."""
    from sdlt_spark.operators.sampling import weighted_sample as _ws

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return _ws(docs, "doc_id", "n_chars", 100)


@_q(
    "text_quality",
    r"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
           round(length(text) / len(string_split(text, ' ')), 4) AS chars_per_token,
           round(length(regexp_replace(text, '[a-zA-Z0-9 \t\n]', '', 'g')) * 1.0
                 / nullif(length(text), 0), 4) AS punct_ratio,
           round(len(list_filter(string_split(text, ' '),
                     t -> list_contains(['the','a','and','is','of','to','in','that'], t)))
                 * 1.0 / len(string_split(text, ' ')), 4) AS stopword_ratio
    FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals per document, all JVM-side expressions."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop = F.array(*[F.lit(w) for w in _text.LANG_PROFILES["en"]])
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.round(F.length("text").cast("double") / F.size(toks), 4).alias("chars_per_token"),
        F.round(
            F.length(F.regexp_replace("text", r"[a-zA-Z0-9 \t\n]", "")).cast("double")
            / F.nullif(F.length("text"), F.lit(0)),
            4,
        ).alias("punct_ratio"),
        F.round(
            F.size(F.filter(toks, lambda t: F.array_contains(stop, t))).cast("double")
            / F.size(toks),
            4,
        ).alias("stopword_ratio"),
    )


@_q(
    "lang_id",
    """
    WITH scored AS (
      SELECT doc_id,
        CAST(len(list_filter(string_split(text,' '),
             t -> list_contains(['der','die','das','und','ist','nicht','ein','mit'], t))) AS INTEGER) AS score_de,
        CAST(len(list_filter(string_split(text,' '),
             t -> list_contains(['the','a','and','is','of','to','in','that'], t))) AS INTEGER) AS score_en,
        CAST(len(list_filter(string_split(text,' '),
             t -> list_contains(['el','la','los','y','es','de','que','un'], t))) AS INTEGER) AS score_es,
        CAST(len(list_filter(string_split(text,' '),
             t -> list_contains(['le','la','les','et','est','de','que','un'], t))) AS INTEGER) AS score_fr
      FROM documents)
    SELECT doc_id, score_de, score_en, score_es, score_fr,
           CASE WHEN score_de >= greatest(score_de, score_en, score_es, score_fr) THEN 'de'
                WHEN score_en >= greatest(score_de, score_en, score_es, score_fr) THEN 'en'
                WHEN score_es >= greatest(score_de, score_en, score_es, score_fr) THEN 'es'
                ELSE 'fr' END AS pred_lang
    FROM scored
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language-ID heuristic (X4 family)."""
    docs = _t(spark, sf_dir, "documents")
    return _text.language_scores(docs).select(
        "doc_id", "score_de", "score_en", "score_es", "score_fr", "pred_lang"
    )


@_q(
    "doc_fingerprint",
    "SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _text.fingerprint(_t(spark, sf_dir, "documents")).select("doc_id", "fp")


@_q(
    "pii_redact",
    # Identical note construction + regexes on both sides. DuckDB
    # regexp_replace needs the 'g' flag to match Spark's replace-all; the
    # patterns stick to syntax Java regex and RE2 agree on (classes,
    # bounded repetition, \b) — no lookaround, no backreferences.
    r"""
    WITH base AS (
      SELECT c_custkey,
             'Customer ' || c_name || ' (' || c_mktsegment || ') mail '
             || lower(replace(c_name, '#', '.')) || '@example.com or call '
             || CAST(10 + c_custkey % 90 AS STRING) || '-'
             || lpad(CAST(c_custkey * 7 % 1000 AS STRING), 3, '0') || '-'
             || lpad(CAST(c_custkey * 13 % 1000 AS STRING), 3, '0') || '-'
             || lpad(CAST(c_custkey * 31 % 10000 AS STRING), 4, '0')
             || ', last seen from 10.' || CAST(c_custkey % 256 AS STRING)
             || '.0.' || CAST(c_custkey % 100 AS STRING) AS note
      FROM customer
    )
    SELECT c_custkey,
           CAST(len(regexp_extract_all(note,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
           CAST(len(regexp_extract_all(note,
             '\b\d{2,3}-\d{3}-\d{3,4}-\d{4}\b')) AS INT) AS n_phone,
           CAST(len(regexp_extract_all(note,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ipv4,
           regexp_replace(regexp_replace(regexp_replace(note,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{2,3}-\d{3}-\d{3,4}-\d{4}\b', '<PHONE>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IPV4>', 'g') AS redacted
    FROM base
    """,
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 extension — PII scrubbing (operators/text.py redact_pii): emails,
    phone numbers, and IPv4 addresses replaced by typed placeholders, with
    per-type match counts. The fixture tables carry no real PII, so the
    query synthesizes a deterministic contact note per customer from key
    digits — the regex work is real, the data is not. Map-only expression
    pipeline: at scale this rides the scan for free."""
    cust = _t(spark, sf_dir, "customer")
    phone = F.concat(
        (F.col("c_custkey") % 90 + 10).cast("string"), F.lit("-"),
        F.lpad((F.col("c_custkey") * 7 % 1000).cast("string"), 3, "0"), F.lit("-"),
        F.lpad((F.col("c_custkey") * 13 % 1000).cast("string"), 3, "0"), F.lit("-"),
        F.lpad((F.col("c_custkey") * 31 % 10000).cast("string"), 4, "0"),
    )
    note = F.concat(
        F.lit("Customer "), F.col("c_name"),
        F.lit(" ("), F.col("c_mktsegment"), F.lit(") mail "),
        F.lower(F.translate(F.col("c_name"), "#", ".")), F.lit("@example.com or call "),
        phone,
        F.lit(", last seen from 10."), (F.col("c_custkey") % 256).cast("string"),
        F.lit(".0."), (F.col("c_custkey") % 100).cast("string"),
    )
    return _text.redact_pii(
        cust.select("c_custkey", note.alias("note")), "note", "redacted"
    ).select("c_custkey", "n_email", "n_phone", "n_ipv4", "redacted")


@_q(
    "boilerplate_dedup",
    # Oracle groups by the segment STRING where Spark groups by md5(seg) —
    # identical partitions absent an md5 collision. Slices: DuckDB t[a:b] is
    # 1-based end-inclusive; Spark slice(arr, start, len) — both clamp the
    # final partial segment.
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    segs AS (
      SELECT doc_id, i AS pos,
             array_to_string(t[i * 8 + 1 : i * 8 + 8], ' ') AS seg
      FROM toks, LATERAL unnest(range(0, CAST(ceil(len(t) / 8.0) AS BIGINT))) AS u(i)
    ),
    boiler AS (
      SELECT seg FROM segs GROUP BY seg HAVING count(DISTINCT doc_id) > 2
    ),
    kept AS (
      SELECT s.* FROM segs s LEFT JOIN boiler b ON s.seg = b.seg
      WHERE b.seg IS NULL
    ),
    tot AS (SELECT doc_id, count(*) AS n_segs FROM segs GROUP BY doc_id),
    agg AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(seg, ' ' ORDER BY pos) AS cleaned
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_segs,
           coalesce(a.n_kept, 0) AS n_kept,
           coalesce(a.cleaned, '') AS cleaned
    FROM tot t LEFT JOIN agg a ON a.doc_id = t.doc_id
    """,
)
def boilerplate_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X extension — corpus-frequency segment removal (the line-dedup step
    of RefinedWeb-style curation, with fixed 8-token segments standing in
    for lines on the single-line fixture): segments appearing in 3+
    distinct documents are boilerplate and removed; documents are
    reassembled in order (operators/text.py remove_boilerplate)."""
    return _text.remove_boilerplate(
        _t(spark, sf_dir, "documents"), "doc_id", "text", seg_len=8, max_docs=2
    )


_URL_BLOCKLIST = (
    "mirror.src0.example.net",
    "mirror.src7.example.net",
    "src2.example.com",
    "src13.example.com",
)


@_q(
    "url_blocklist",
    """
    WITH base AS (
      SELECT doc_id,
             'see HTTPS://www.' || source || '.Example.COM/' || lang || '/'
             || CAST(doc_id AS STRING)
             || '/ plus mirror http://Mirror.' || source || '.example.NET/d/'
             || CAST(doc_id AS STRING) AS note
      FROM documents
    ),
    ex AS (
      SELECT doc_id, u.raw
      FROM base,
           LATERAL unnest(regexp_extract_all(note,
             '[hH][tT][tT][pP][sS]?://[^ ]+')) AS u(raw)
    ),
    n AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(lower(raw),
               '^https?://', ''), '^www\\.', ''), '/$', '') AS url
      FROM ex
    )
    SELECT doc_id, url,
           regexp_extract(url, '^([^/?]+)', 1) AS host,
           regexp_extract(url, '^([^/?]+)', 1) IN
             ('mirror.src0.example.net', 'mirror.src7.example.net',
              'src2.example.com', 'src13.example.com') AS blocked
    FROM n
    """,
)
def url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X extension — URL extraction + normalization + blocklist tagging
    (operators/text.py extract_urls / blocklist_filter). URLs are
    synthesized deterministically per document (the fixture has none); the
    blocklist is a broadcast dim so the check is a map-side hash probe —
    the pattern that scales to million-host blocklists against a 100 TB
    URL table with zero shuffle."""
    docs = _t(spark, sf_dir, "documents")
    note = F.concat(
        F.lit("see HTTPS://www."), F.col("source"), F.lit(".Example.COM/"),
        F.col("lang"), F.lit("/"), F.col("doc_id").cast("string"),
        F.lit("/ plus mirror http://Mirror."), F.col("source"),
        F.lit(".example.NET/d/"), F.col("doc_id").cast("string"),
    )
    urls = _text.extract_urls(docs.select("doc_id", note.alias("note")), "doc_id", "note")
    block = spark.createDataFrame([(h,) for h in _URL_BLOCKLIST], "host string")
    return _text.blocklist_filter(urls, block).select("doc_id", "url", "host", "blocked")


@_q("lang_histogram", "SELECT lang, count(*) AS n FROM documents GROUP BY lang")
def lang_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents").groupBy("lang").agg(F.count(F.lit(1)).alias("n"))


@_q(
    "corpus_prep",
    # End-to-end training-corpus prep with a fully relational oracle. Both
    # sides filter on UNROUNDED signals (identical IEEE arithmetic from
    # integer lengths, so the comparisons agree bit-for-bit) and the final
    # ratio derives from integer sums (exact regardless of summation order).
    r"""
    WITH q AS (
      SELECT doc_id, lang, source, text,
             CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
      FROM documents
      WHERE len(string_split(text, ' ')) >= 5
        AND length(regexp_replace(text, '[a-zA-Z0-9 \t\n]', '', 'g')) * 1.0
            / length(text) <= 0.1
    ),
    keep AS (
      SELECT md5(lower(trim(text))) AS fp, min(doc_id) AS doc_id
      FROM q GROUP BY 1
    ),
    rep AS (
      SELECT q.* FROM q
      JOIN keep ON keep.doc_id = q.doc_id
               AND keep.fp = md5(lower(trim(q.text)))
    )
    SELECT lang, source,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(CAST(sum(length(text)) AS DOUBLE) / sum(n_tokens), 4)
             AS avg_chars_per_token
    FROM rep GROUP BY lang, source
    """,
)
def corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship LLM-data-pipeline composition: quality filter -> exact
    near-zero-cost dedup -> per-(lang, source) corpus statistics, all
    JVM-side expressions.

    Scale shape: the quality signals are scan-local projections (no
    shuffle); dedup shuffles only (fp, doc_id) pairs — a 16-byte md5 key,
    never document bodies — then the representative semi-join and the final
    aggregation are AQE-planned shuffles on compact keys. At 100 TB the
    whole pipeline is one scan plus three narrow-key shuffles."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    q = docs.select(
        "doc_id",
        "lang",
        "source",
        "text",
        F.size(toks).alias("n_tokens"),
    ).filter(
        (F.size(toks) >= 5)
        & (
            F.length(F.regexp_replace("text", r"[a-zA-Z0-9 \t\n]", "")).cast("double")
            / F.length("text")
            <= 0.1
        )
    )
    fp = F.md5(F.lower(F.trim("text")))
    with_fp = q.withColumn("fp", fp)
    keep = with_fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    rep = with_fp.join(keep, ["fp", "doc_id"])
    return rep.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(
            F.sum(F.length("text")).cast("double") / F.sum("n_tokens"), 4
        ).alias("avg_chars_per_token"),
    )


@_q(
    "cosine_topk",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 4) AS cos_sim
    FROM embeddings e, q
    WHERE e.vec_id <> 0
    ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC, e.vec_id
    LIMIT 10
    """,
)
def cosine_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: exact brute-force cosine top-k; query vector broadcast as literal,
    similarity fully JVM-side, TakeOrderedAndProject keeps k rows."""
    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return _sim.cosine_topk(
        emb.filter(F.col("vec_id") != 0), "embedding", "vec_id", list(query), k=10
    )


@_q(
    "neardup_cosine",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 4) AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.40
    """,
)
def neardup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs, exact (LSH-bucketed variant: ann_lsh_topk).
    Block count sized from parquet footer stats — no extra count() job."""
    return _sim.neardup_cosine_pairs(
        _t(spark, sf_dir, "embeddings"),
        "embedding",
        "vec_id",
        threshold=0.40,
        n_rows=tables.row_count(sf_dir, "embeddings"),
    )


@_q(
    "embed_normalize",
    # Per-row list arithmetic is order-defined, so both engines produce
    # bit-identical doubles: x*x summed left-to-right, sqrt, divide, round.
    """
    WITH s AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (
      SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
      FROM s
    )
    SELECT vec_id, list_transform(v, x -> round(x / nrm, 6)) AS unit
    FROM n WHERE nrm > 0
    """,
)
def embed_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-norm projection of the embedding corpus (map-only, no UDF)."""
    return _sim.normalize_embeddings(
        _t(spark, sf_dir, "embeddings"), "embedding", "vec_id"
    )


@_q(
    "embed_quantize",
    """
    WITH s AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS scale
      FROM embeddings
    )
    SELECT vec_id, scale,
           list_transform(v, x -> CAST(floor(x * 127.0 / scale + 0.5) AS INTEGER)) AS q
    FROM s WHERE scale > 0
    """,
)
def embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding corpus (map-only)."""
    return _sim.quantize_embeddings(
        _t(spark, sf_dir, "embeddings"), "embedding", "vec_id"
    )


@_q(
    "salted_groupby",
    # Oracle is the PLAIN aggregate: salting is a physical rewrite with
    # identical semantics. DECIMAL sums make the two-phase reassociation
    # exact, so the hash can't drift with summation order.
    """
    SELECT l_returnflag, count(*) AS n,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def salted_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 under skew: two-phase salted aggregation (operators/skew.py) —
    phase 1 aggregates on (key, salt) so a hot key spreads over num_salts
    reducers, phase 2 merges the partials. Same answer as the direct
    aggregate by construction; this entry keeps the skew path
    driver-checked, not just unit-tested."""
    from sdlt_spark.operators.skew import salted_agg

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_orderkey",
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
    )
    out = salted_agg(
        li,
        ["l_returnflag"],
        "l_orderkey",
        {"n": ("count", "*"), "sum_qty": ("sum", "qty")},
    )
    return out.select(
        "l_returnflag",
        "n",
        F.round(F.col("sum_qty").cast("double"), 2).alias("sum_qty"),
    )


@_q(
    "quantized_cosine_topk",
    # The int dot is exact (BIGINT lanes, < 2^53 so DuckDB's double result
    # is lossless); dequantization multiplies in the same left-to-right
    # order as the Spark expression. ORDER BY uses the unrounded score.
    """
    WITH s AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS scale
      FROM embeddings
    ),
    qz AS (
      SELECT vec_id, scale,
             list_transform(v, x -> CAST(floor(x * 127.0 / scale + 0.5) AS BIGINT)) AS q
      FROM s WHERE scale > 0
    ),
    qref AS (SELECT scale AS qscale, q AS qvec FROM qz WHERE vec_id = 0)
    SELECT z.vec_id,
           round(CAST(list_dot_product(z.q, qref.qvec) AS DOUBLE)
                 * z.scale * qref.qscale / 16129.0, 6) AS score
    FROM qz z, qref
    WHERE z.vec_id <> 0
    ORDER BY CAST(list_dot_product(z.q, qref.qvec) AS DOUBLE)
             * z.scale * qref.qscale / 16129.0 DESC, z.vec_id
    LIMIT 10
    """,
)
def quantized_cosine_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 int8 path: search the quantized corpus with an int dot product;
    the quantization rule is exactly specified so even this 'approximate'
    search is value-hash-checkable."""
    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return _sim.quantized_cosine_topk(
        emb.filter(F.col("vec_id") != 0), "embedding", "vec_id", list(query), k=10
    )


# --- rows-only declared ops (LSH/ANN randomness or non-SQL plumbing) -------


@_q(
    "minhash_lsh_dedup",
    # Exact oracle: every hash in the operator is md5 + BIGINT arithmetic
    # mod 2^31-1, so DuckDB recomputes signatures, band buckets, candidate
    # pairs, the estimate prefilter, and jaccard bit-identically. The SQL is
    # generated from the SAME Python constants the Spark plan embeds.
    _dedup.minhash_oracle_sql(
        "documents", "doc_id", "text", threshold=0.9, estimate_prefilter=False
    ),
)
def minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: MinHash -> LSH banding (auto-tuned S-curve) -> exact-Jaccard
    verification. Threshold 0.9: the fixture corpus is globally similar
    (31-token vocabulary, median pairwise jaccard 0.65), so lower thresholds
    have inherently quadratic answers. estimate_prefilter=False: with ~23
    distinct tokens/doc the signature-estimate costs more than the exact
    verify it would skip (see minhash_dedup's docstring) — and it no longer
    silently drops borderline true pairs."""
    return _dedup.minhash_dedup(
        _t(spark, sf_dir, "documents"), "doc_id", threshold=0.9,
        estimate_prefilter=False,
    )


@_q(
    "minhash_lsh_dedup_capped",
    # Same exact oracle as minhash_lsh_dedup plus the hot-bucket cap in
    # lockstep: (band, bh) buckets holding > 64 documents leave candidate
    # generation on BOTH engines (round-9 verdict item 1 — the cap that
    # keeps a mass-duplicated web page from making one bucket quadratic).
    _dedup.minhash_oracle_sql(
        "documents", "doc_id", "text", threshold=0.9, estimate_prefilter=False,
        max_bucket_size=64,
    ),
)
def minhash_lsh_dedup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 with the per-(band, bucket) size cap engaged: buckets larger
    than 64 docs are dropped from candidate generation (the LSH analogue
    of ngram_jaccard's df-cut). Identical documents agree on every band,
    so without the cap one boilerplate page duplicated d times emits
    O(d^2) candidate pairs per band; with it, candidates stay linear and
    recall is lost only for pairs whose every agreeing band is a
    mega-bucket — mass duplicates, which exact_dedup upstream removes
    linearly (see dedup_pipeline's exact-first composition)."""
    return _dedup.minhash_dedup(
        _t(spark, sf_dir, "documents"), "doc_id", threshold=0.9,
        estimate_prefilter=False, max_bucket_size=64,
    )


@_q(
    "simhash_neardup",
    # Exact oracle: the 60-bit simhash is md5 + positive-BIGINT arithmetic
    # end to end, so DuckDB recomputes bit votes, identical-signature
    # groups, candidate pairs, and hamming distances identically. Round 11
    # folded grouping + ball-probe banding into the classic name (the sf10
    # walls' fix), so the oracle is the grouped form; the verified output
    # is candidate-scheme-independent (full recall either way), so the
    # oracle's chunk-equality enumeration needs no probe logic.
    _dedup.simhash_grouped_oracle_sql("documents", "doc_id", "text", max_hamming=10),
)
def simhash_neardup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic loose-threshold simhash near-dup (hamming <= 10). Since
    round 11 this runs the same grouped + ball-probe composition as
    simhash_neardup_grouped — 4x15-bit chunks probed at per-chunk radius
    2 instead of 12x5-bit equality chunks (32 buckets), which was the
    measured 831 s sf10 wall."""
    return _dedup.simhash_neardup(_t(spark, sf_dir, "documents"), "doc_id", max_hamming=10)


@_q(
    "simhash_neardup_grouped",
    _dedup.simhash_grouped_oracle_sql("documents", "doc_id", "text", max_hamming=3),
)
def simhash_neardup_grouped_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical-simhash-first near-dup at the scale threshold (round-10
    sf10 findings): the classic entry's hamming <= 10 forces 5-bit chunks
    = 32 buckets/chunk — ~12n²/32 candidates on ANY corpus, measured
    15.7 s -> 831 s for 10x docs — while hamming <= 3 picks four 15-bit
    chunks (32,768 buckets/chunk), measured ~linear through sf10. The
    grouped composition additionally collapses identical signatures to
    min-id representatives (linear hamming-0 edges, chunk join over
    DISTINCT signatures), the guard for the mass-duplicate regime the
    image corpus measured (76 distinct hashes / 500k rows ->
    5 s -> 1,164 s ungrouped); it costs one count-aggregate when groups
    are small."""
    return _dedup.simhash_neardup_grouped(
        _t(spark, sf_dir, "documents"), "doc_id", max_hamming=3
    )


@_q(
    "ngram_jaccard",
    # Exact semantics (no hashing anywhere in the operator), so the oracle
    # recomputes word-3-gram Jaccard from scratch: DuckDB list slicing
    # t[i : i+2] is 1-based end-INCLUSIVE (a 3-gram), range() end-EXCLUSIVE.
    # Both sides filter on the ROUNDED similarity (Spark rounds before its
    # threshold filter).
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, array_to_string(t[i : i + 2], ' ') AS ngram
      FROM toks, LATERAL unnest(range(1, len(t) - 1)) AS u(i)
      WHERE len(t) >= 3
    ),
    -- df-cap: shingles in > 1000 docs leave CANDIDATE GENERATION only
    -- (the quadratic-hot-key guard); intersection/union still count them
    hot AS (SELECT ngram FROM grams GROUP BY ngram HAVING count(*) > 1000),
    cand AS (SELECT g.* FROM grams g ANTI JOIN hot h USING (ngram)),
    sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
    cpairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM cand a JOIN cand b USING (ngram)
      WHERE a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT id_a, id_b, count(*) AS inter
      FROM cpairs
      JOIN grams ga ON ga.doc_id = id_a
      JOIN grams gb ON gb.doc_id = id_b AND gb.ngram = ga.ngram
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(inter / (sa.sz + sb.sz - inter), 4) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE round(inter / (sa.sz + sb.sz - inter), 4) >= 0.2
    """,
)
def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        n=3,
        threshold=0.2,
        max_doc_frequency=1000,
    )


@_q(
    "decontaminate",
    # Exact recompute: the benchmark is the doc_id % 47 slice of the same
    # corpus; DuckDB regenerates the word-5-grams with 1-based end-INCLUSIVE
    # list slicing (t[i : i+4] = a 5-gram) and range() end-EXCLUSIVE.
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, array_to_string(t[i : i + 4], ' ') AS ngram
      FROM toks, LATERAL unnest(range(1, len(t) - 3)) AS u(i)
      WHERE len(t) >= 5
    ),
    bench AS (
      SELECT DISTINCT ngram FROM grams WHERE doc_id % 47 = 0
    ),
    hits AS (
      SELECT g.doc_id, count(*) AS n_hits
      FROM grams g JOIN bench USING (ngram)
      GROUP BY g.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           coalesce(h.n_hits, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
    """,
)
def decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/text.py::decontaminate): per
    training doc, distinct word-5-grams shared with a 'benchmark' slice of
    the corpus. The benchmark shingle set broadcasts; the corpus side is a
    map-only explode + one per-doc aggregation — no corpus-wide shuffle."""
    from sdlt_spark.operators.text import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 47 == 0).select("text")
    return decontaminate(docs, bench, "doc_id", n=5)


@_q("ann_lsh_topk", None)
def ann_lsh_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return _sim.ann_lsh_topk(
        emb.filter(F.col("vec_id") != 0), "embedding", "vec_id", list(query), k=10
    )


@_q("multimodal_features", None)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: binary payload -> Arrow-batched feature extraction (stub codec,
    real mapInPandas plumbing).

    The declared output is scalar-shaped — the array<float> vector is
    posexploded to (media_id, feat_idx, feat_value) because the driver's
    canonicalizer lex-sorts output columns and cannot hash list cells (the
    one hard CORRECTNESS_r01 failure). Library users get the array form
    from operators/multimodal.decode_features directly."""
    media = _mm.documents_as_media(_t(spark, sf_dir, "documents"))
    feats = _mm.decode_features(media)
    return feats.select(
        "media_id", F.posexplode("features").alias("feat_idx", "__v")
    ).select(
        "media_id",
        F.col("feat_idx").cast("int").alias("feat_idx"),
        F.round(F.col("__v").cast("double"), 4).alias("feat_value"),
    )


@_q(
    "multimodal_decode",
    # pixels are a closed-form function of doc_id (see the builder below),
    # so every decoded statistic is computable exactly in SQL: channel
    # means fold the row/col terms (mean over r of 8r = 12, over c of 2c
    # = 4), the top-left pixel is the base alone
    "SELECT doc_id AS media_id, 5 AS width, 4 AS height, 3 AS channels, "
    "CAST(doc_id % 13 + 16 AS DOUBLE) AS mean_r, "
    "CAST(doc_id % 13 + 17 AS DOUBLE) AS mean_g, "
    "CAST(doc_id % 13 + 18 AS DOUBLE) AS mean_b, "
    "CAST(doc_id % 13 AS INT) AS tl_r, "
    "CAST(doc_id % 13 + 1 AS INT) AS tl_g, "
    "CAST(doc_id % 13 + 2 AS INT) AS tl_b "
    "FROM documents",
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5, REAL decode (round-5 verdict item 6): build a 5x4 24-bit BMP
    per document whose pixel (r, c, ch) = doc_id%13 + 8r + 2c + ch, run
    the honest pure-python BMP decoder (operators/imagecodec.py — header
    parse, 4-byte row padding, bottom-up row order, BGR->RGB) inside the
    mapInPandas stage, and emit per-channel stats. The oracle computes the
    same statistics analytically — a decoder that misread row order,
    channel order, or padding hash-mismatches."""
    import numpy as np

    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def _encode(batches):
        import pandas as pd

        from sdlt_spark.operators.imagecodec import encode_bmp

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                base = int(did) % 13
                r, c, ch = np.meshgrid(
                    np.arange(4), np.arange(5), np.arange(3), indexing="ij"
                )
                px = (base + 8 * r + 2 * c + ch).astype(np.uint8)
                payloads.append(encode_bmp(px))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    media = docs.mapInPandas(
        _encode,
        StructType(
            [
                StructField("media_id", LongType(), False),
                StructField("payload", BinaryType(), True),
            ]
        ),
    )
    decoded = _mm.decode_image(media)
    return decoded.select(
        "media_id",
        "width",
        "height",
        "channels",
        F.round(F.element_at("ch_mean", 1), 6).alias("mean_r"),
        F.round(F.element_at("ch_mean", 2), 6).alias("mean_g"),
        F.round(F.element_at("ch_mean", 3), 6).alias("mean_b"),
        F.element_at("topleft", 1).alias("tl_r"),
        F.element_at("topleft", 2).alias("tl_g"),
        F.element_at("topleft", 3).alias("tl_b"),
    )


@_q(
    "multimodal_audio",
    # samples are a closed-form function of doc_id (see the builder below:
    # frame i, channel ch carries (-1)^ch * (16*(doc_id%11) + 3i + 7)), so
    # every decoded statistic folds analytically: mean over i of 3i+7 is
    # 14.5, peak is the i=5 magnitude, first frame is the i=0 value
    "SELECT doc_id AS media_id, CAST(8000 AS INT) AS sample_rate, "
    "CAST(2 AS INT) AS channels, CAST(6 AS BIGINT) AS n_frames, "
    "CAST(6 AS DOUBLE) / CAST(8000 AS DOUBLE) AS duration_sec, "
    "CAST((doc_id % 11) * 16 + 14.5 AS DOUBLE) AS mean_l, "
    "CAST(-((doc_id % 11) * 16 + 14.5) AS DOUBLE) AS mean_r, "
    "CAST((doc_id % 11) * 16 + 22 AS INT) AS peak_l, "
    "CAST((doc_id % 11) * 16 + 22 AS INT) AS peak_r, "
    "CAST((doc_id % 11) * 16 + 7 AS INT) AS first_l, "
    "CAST(-((doc_id % 11) * 16 + 7) AS INT) AS first_r "
    "FROM documents",
)
def multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5, REAL audio decode: build a 6-frame stereo 16-bit PCM WAV per
    document whose frame (i, ch) = (-1)^ch * (16*(doc_id%11) + 3i + 7),
    run the honest pure-python RIFF/WAVE decoder
    (operators/audiocodec.py — chunk walk, PCM width handling, channel
    de-interleave) inside the mapInPandas stage, and emit the container
    facts plus per-channel stats. The oracle computes the same statistics
    analytically — a decoder that mixed up channel interleave, sample
    signedness, or frame count hash-mismatches. All statistic values are
    exactly representable doubles (x.5 at worst), so no rounding games."""
    import numpy as np

    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def _encode(batches):
        import pandas as pd

        from sdlt_spark.operators.audiocodec import encode_wav

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                base = int(did) % 11
                i = np.arange(6)
                mono = 16 * base + 3 * i + 7
                payloads.append(
                    encode_wav(np.stack([mono, -mono], axis=1), 8000)
                )
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    media = docs.mapInPandas(
        _encode,
        StructType(
            [
                StructField("media_id", LongType(), False),
                StructField("payload", BinaryType(), True),
            ]
        ),
    )
    decoded = _mm.decode_audio(media)
    return decoded.select(
        "media_id",
        "sample_rate",
        "channels",
        "n_frames",
        "duration_sec",
        F.element_at("ch_mean", 1).alias("mean_l"),
        F.element_at("ch_mean", 2).alias("mean_r"),
        F.element_at("ch_peak", 1).alias("peak_l"),
        F.element_at("ch_peak", 2).alias("peak_r"),
        F.element_at("first_frame", 1).alias("first_l"),
        F.element_at("first_frame", 2).alias("first_r"),
    )


@_q(
    "multimodal_audio_resample",
    # the multimodal_audio fixture decimated by 2: surviving frames are
    # i in {0,2,4}, so mean folds to base*16 + 3*2 + 7 = base*16 + 13,
    # the peak is the i=4 frame, rate halves, duration is preserved
    "SELECT doc_id AS media_id, CAST(4000 AS INT) AS sample_rate, "
    "CAST(3 AS BIGINT) AS n_frames, "
    "CAST(3 AS DOUBLE) / CAST(4000 AS DOUBLE) AS duration_sec, "
    "CAST((doc_id % 11) * 16 + 13 AS DOUBLE) AS mean_l, "
    "CAST(-((doc_id % 11) * 16 + 13) AS DOUBLE) AS mean_r, "
    "CAST((doc_id % 11) * 16 + 19 AS INT) AS peak_l, "
    "CAST((doc_id % 11) * 16 + 7 AS INT) AS first_l "
    "FROM documents",
)
def multimodal_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 chain: WAV encode -> resample_audio(factor=2) -> decode_audio.
    Decimation keeps every 2nd frame and halves the rate (duration
    invariant); the oracle folds the surviving arithmetic series — a
    resampler that slipped the phase, dropped the wrong frames, or forgot
    the rate change hash-mismatches."""
    import numpy as np

    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def _encode(batches):
        import pandas as pd

        from sdlt_spark.operators.audiocodec import encode_wav

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                base = int(did) % 11
                i = np.arange(6)
                mono = 16 * base + 3 * i + 7
                payloads.append(
                    encode_wav(np.stack([mono, -mono], axis=1), 8000)
                )
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    media = docs.mapInPandas(
        _encode,
        StructType(
            [
                StructField("media_id", LongType(), False),
                StructField("payload", BinaryType(), True),
            ]
        ),
    )
    decoded = _mm.decode_audio(_mm.resample_audio(media, factor=2))
    return decoded.select(
        "media_id",
        "sample_rate",
        "n_frames",
        "duration_sec",
        F.element_at("ch_mean", 1).alias("mean_l"),
        F.element_at("ch_mean", 2).alias("mean_r"),
        F.element_at("ch_peak", 1).alias("peak_l"),
        F.element_at("first_frame", 1).alias("first_l"),
    )


# ---------------------------------------------------------------------------
# §2.4 A4 extras + reshaping: cube, pivot, percentiles, sessionization
# ---------------------------------------------------------------------------


@_q(
    "cube_agg",
    """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty")
    )


@_q(
    "pivot_agg",
    """
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS O,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS F
    FROM lineitem GROUP BY l_returnflag
    """,
)
def pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )


@_q(
    "percentile_agg",
    """
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 2) AS p90
    FROM orders GROUP BY o_orderpriority
    """,
)
def percentile_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` == DuckDB
    quantile_cont, both linear interpolation). The approximate variant for
    100 TB is percentile_approx — same call shape, sketch-based."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 2).alias("p90"),
    )


@_q("approx_percentile", None)  # sketch values differ across engines -> rows-only
def approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB percentile path: percentile_approx's mergeable sketch
    keeps the shuffle O(groups x sketch), where the exact percentile above
    must gather every value per group. Rows-only (Spark's and DuckDB's
    sketches legitimately disagree in low digits)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.percentile_approx("o_totalprice", 0.5, 1000), 2).alias("p50"),
        F.round(F.percentile_approx("o_totalprice", 0.9, 1000), 2).alias("p90"),
    )


@_q(
    "null_semantics",
    # Three-valued logic corners: count() skips NULLs, count(*) doesn't;
    # null-safe equality (Spark <=>, SQL IS NOT DISTINCT FROM); COALESCE.
    """
    WITH w AS (
      SELECT o_orderpriority, nullif(o_orderstatus, 'O') AS st, o_totalprice
      FROM orders
    )
    SELECT o_orderpriority,
           count(*) AS n_rows,
           count(st) AS n_nonnull,
           CAST(sum(CASE WHEN st IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_nullsafe_null,
           count(DISTINCT coalesce(st, '?')) AS n_status_kinds
    FROM w GROUP BY o_orderpriority
    """,
)
def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 NULL corners on a manufactured nullable column: count vs
    count(*), null-safe equality (<=>), COALESCE — the semantics merge and
    dedup rely on, driver-checked explicitly."""
    o = _t(spark, sf_dir, "orders")
    w = o.select(
        "o_orderpriority",
        F.nullif("o_orderstatus", F.lit("O")).alias("st"),
        "o_totalprice",
    )
    return w.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("st").alias("n_nonnull"),
        F.sum(F.col("st").eqNullSafe(F.lit(None)).cast("int")).alias("n_nullsafe_null"),
        F.countDistinct(F.coalesce("st", F.lit("?"))).alias("n_status_kinds"),
    )


@_q(
    "sessionize",
    # session_window as gaps-and-islands: two events share a session iff
    # their windows [t, t+gap) overlap, i.e. delta STRICTLY < gap (an event
    # landing exactly at prev_end starts a new session — note `<` here vs
    # sessionize_sql's deliberate `<=` formulation, which is its own twin).
    # Session end = last event ts + gap, exactly Spark's sess.end.
    """
    WITH gaps AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER w < INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_sess
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
      SELECT user_id, ts, value,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM gaps
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
           count(*) AS n_events,
           round(sum(value), 2) AS session_value
    FROM sessions GROUP BY user_id, sid
    """,
)
def sessionize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10: session windows per user (30 min gap), static-mode run of the
    streaming transformation."""
    from sdlt_spark.streaming.ingest import sessionize

    return sessionize(_t(spark, sf_dir, "events"), gap="30 minutes")


# ---------------------------------------------------------------------------
# §2.8 set operations (intersect/except) + §2.1 S1 CSV source + A3 approx
# ---------------------------------------------------------------------------


@_q(
    "intersect_op",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def intersect_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with both a fulfilled and an open order (INTERSECT is
    distinct-semantics in both engines)."""
    o = _t(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.intersect(op)


@_q(
    "except_op",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def except_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    # subtract == EXCEPT DISTINCT (exceptAll would keep surplus multiplicity)
    return f.subtract(op)


from sdlt_spark.store.sdmx import exr_input_dir  # noqa: E402

_EXR_IN = exr_input_dir()


@_q(
    "csv_scan",
    # DuckDB reads the same CSV with the same explicit column types (no
    # auto-inference: '2020-01' must stay VARCHAR, UNIT_MULT '0' too)
    """
    SELECT FREQ, CURRENCY, CURRENCY_DENOM, EXR_TYPE, EXR_SUFFIX, TIME_PERIOD,
           OBS_VALUE, OBS_STATUS, COLLECTION, DECIMALS, TITLE, UNIT, UNIT_MULT,
           concat_ws(':', FREQ, CURRENCY, CURRENCY_DENOM, EXR_TYPE, EXR_SUFFIX,
                     TIME_PERIOD) AS KEY
    FROM read_csv('""" + _EXR_IN + """/data.0.csv', header=true, columns={
      'FREQ':'VARCHAR','CURRENCY':'VARCHAR','CURRENCY_DENOM':'VARCHAR',
      'EXR_TYPE':'VARCHAR','EXR_SUFFIX':'VARCHAR','TIME_PERIOD':'VARCHAR',
      'OBS_VALUE':'DOUBLE','OBS_STATUS':'VARCHAR','COLLECTION':'VARCHAR',
      'DECIMALS':'INTEGER','TITLE':'VARCHAR','UNIT':'VARCHAR',
      'UNIT_MULT':'VARCHAR'})
    """,
)
def csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: CSV source with header + explicit non-null schema + derived KEY
    (README.md:45-80). 504 rows from the choreography's data.0.csv (the
    reference's own, or the vendored copy; see ``exr_input_dir``),
    value-hash-checked against DuckDB's read_csv of the same file."""
    from sdlt_spark.store.sdmx import read_submission

    return read_submission(spark, f"{_EXR_IN}/data.0.csv")


@_q(
    "topk_per_group",
    """
    SELECT doc_id, lang, n_chars, rk FROM (
      SELECT doc_id, lang, n_chars,
             CAST(row_number() OVER (PARTITION BY lang
                                     ORDER BY n_chars DESC, doc_id) AS INTEGER) AS rk
      FROM documents)
    WHERE rk <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k selection (the 'best N documents per language'
    curation staple): row_number over a (group, order) window, filtered to
    k. One shuffle on the group key; deterministic doc_id tiebreak."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        docs.select("doc_id", "lang", "n_chars")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
    )


@_q("json_scan", "SELECT doc_id, text, lang, source, n_chars FROM documents")
def json_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 extension: JSON-lines sink + source (the training-corpus exchange
    format). Stages documents as JSONL, reads them back with an explicit
    schema (never inferSchema — that's an extra full scan). The roundtrip
    is lossless, so the oracle is the identity projection — the same
    scan-back pattern vintage_compact uses."""
    import tempfile

    from sdlt_spark import sources as _src

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    stage = tempfile.mkdtemp(prefix="sdlt_json_scan_")
    _src.write_jsonl(docs, stage)
    return _src.read_jsonl(spark, stage, docs.schema).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


@_q(
    "binary_scan",
    # Identity oracle: each staged file is the doc's UTF-8 text, so size and
    # md5 are recomputable from the source table. strlen = BYTE length in
    # DuckDB (length() is chars), matching binaryFile's file size.
    """
    SELECT doc_id,
           'doc_' || CAST(doc_id AS STRING) || '.bin' AS fname,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    """,
)
def binary_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S extension — the multimodal ingestion path: stage every document's
    text as a standalone .bin file, scan the directory with Spark's
    binaryFile source (parallel list + read, content as BINARY), and
    project per-file metadata + content digest. This is the entry point a
    real image/audio corpus uses before the decode UDFs in
    operators/multimodal.py take over."""
    import tempfile

    from sdlt_spark import sources as _src

    docs = _t(spark, sf_dir, "documents")
    stage = tempfile.mkdtemp(prefix="sdlt_binary_scan_")
    _src.stage_binary_corpus(docs, "doc_id", "text", stage)
    files = _src.read_binary_files(spark, stage, glob="*.bin")
    return files.select(
        F.regexp_extract("path", r"doc_(\d+)\.bin$", 1).cast("long").alias("doc_id"),
        F.regexp_extract("path", r"[^/]+$", 0).alias("fname"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


@_q("approx_distinct", None)  # HLL sketches differ across engines -> rows-only
def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 approximate variant: HyperLogLog count-distinct — the 100 TB path
    where exact distinct would shuffle every key."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_custs")
    )


# ---------------------------------------------------------------------------
# Multi-join analytics showcases (TPC-H Q3/Q5 shapes on the fixture schema)
# ---------------------------------------------------------------------------


@_q(
    "tpch_q3_shape",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)) + 1e-6, 2) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate
    """,
)
def tpch_q3_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority shape: selective dim filter -> broadcast ->
    fact-fact join on the order key -> grouped revenue. The c_mktsegment
    and date filters push to the scans; customer broadcasts."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) + 1e-6, 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey", "revenue", F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date")
        )
    )


@_q(
    "tpch_q5_shape",
    """
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)) + 1e-6, 2) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name IN ('ASIA', 'EUROPE')
    GROUP BY n_name
    """,
)
def tpch_q5_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier-volume shape: 6-table star join. All dims broadcast;
    the only shuffles are lineitem⋈orders on the order key and the final
    group-by on nation."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) + 1e-6, 2
            ).alias("revenue")
        )
    )


@_q(
    "sessionize_sql",
    """
    WITH gaps AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER w <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_sess
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts, value,
             CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
      FROM gaps
    )
    SELECT user_id, sess_id, count(*) AS n_events,
           round(sum(value), 2) AS session_value,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start
    FROM sessions GROUP BY user_id, sess_id
    """,
)
def sessionize_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization (30 min inactivity gap) as pure
    window SQL — the oracle-checkable twin of the session_window operator
    (`sessionize`). One shuffle on user_id; sessions derive from a running
    sum over the new-session flags."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    gaps = ev.withColumn(
        "new_sess",
        F.when(
            (F.col("ts").cast("long") - F.lag(F.col("ts")).over(w).cast("long")) <= 1800, 0
        ).otherwise(1),
    )
    sessions = gaps.withColumn("sess_id", F.sum("new_sess").over(run))
    return sessions.groupBy("user_id", "sess_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("session_value"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
    )


@_q(
    "multimodal_frames",
    """
    SELECT doc_id AS media_id,
           CAST(i AS INTEGER) AS frame_no,
           CAST(least(64, octet_length(encode(text)) - i * 64) AS INTEGER)
             AS frame_bytes
    FROM documents,
         unnest(generate_series(
           0, CAST(ceil(octet_length(encode(text)) / 64.0) AS INTEGER) - 1
         )) AS t(i)
    """,
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: payload chunking (frame-sample shape) via JVM-side binary slicing.
    Oracle: each utf-8 payload of n bytes yields ceil(n/64) frames; frame i
    carries min(64, n - 64*i) bytes — generate_series reproduces the
    posexplode exactly."""
    from sdlt_spark.operators import multimodal as _mm2

    media = _mm2.documents_as_media(_t(spark, sf_dir, "documents"))
    return _mm2.frame_sample(media, every_n_bytes=64).select(
        "media_id", "frame_no", F.length("frame").alias("frame_bytes")
    )


# ---------------------------------------------------------------------------
# Statistical aggregates, window variants, string distance (breadth ops)
# ---------------------------------------------------------------------------


@_q(
    "stats_agg",
    """
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4) AS sd_qty,
           round(var_samp(l_quantity), 4) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 4) + 0.0 AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 2) + 0.0 AS covar_qty_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        (F.round(F.corr("l_quantity", "l_extendedprice"), 4) + 0.0).alias("corr_qty_price"),
        (F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2) + 0.0).alias("covar_qty_price"),
    )


@_q(
    "window_ntile",
    """
    SELECT o_orderkey,
           CAST(ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS INTEGER) AS quartile,
           round(percent_rank() OVER (ORDER BY o_totalprice, o_orderkey), 4) AS pct_rank
    FROM orders
    """,
)
def window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global NTILE/PERCENT_RANK without the single-task global window:
    operators/ranking.global_rank buckets by collected quantile boundaries,
    ranks each bucket in parallel, and offsets by cumulative counts — same
    values as `ntile(4) OVER (ORDER BY ...)`, executor-parallel sort."""
    from sdlt_spark.operators import ranking as _rk

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ranked, n = _rk.global_rank(o, ["o_totalprice", "o_orderkey"])
    r = F.col("grank")
    return ranked.select(
        "o_orderkey",
        _rk.ntile_expr(r, n, 4).alias("quartile"),
        F.round(_rk.percent_rank_expr(r, n), 4).alias("pct_rank"),
    )


@_q(
    "doc_chunks",
    # Sliding-window chunking with an end-anchored final window so no tail
    # tokens are lost: starts = {1, 1+s, 1+2s, ...} ∪ {len-size+1}, each
    # chunk exactly `size` tokens (short docs -> one whole-doc chunk).
    # DuckDB list slices are 1-based end-inclusive; range() end-exclusive.
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    starts AS (
      SELECT doc_id, t,
             list_distinct(list_append(
               range(1, greatest(len(t) - 32 + 1, 1) + 1, 24),
               greatest(len(t) - 32 + 1, 1))) AS ss
      FROM toks
    )
    SELECT doc_id, CAST(i AS INTEGER) AS chunk_start,
           array_to_string(t[i : i + 31], ' ') AS chunk
    FROM starts, LATERAL unnest(ss) u(i)
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (size 32, stride 24) — the
    embedding-prep staple. All JVM expressions (sequence/slice/explode), a
    pure map over the scan: no shuffle, no UDF, linear at any corpus size.
    The final window anchors at the document end so tail tokens always
    land in exactly one chunk."""
    size, stride = 32, 24
    docs = _t(spark, sf_dir, "documents")
    t = F.split("text", " ")
    max0 = F.greatest(F.size(t) - size, F.lit(0))
    starts0 = F.array_distinct(
        F.concat(F.sequence(F.lit(0), max0, F.lit(stride)), F.array(max0))
    )
    return (
        docs.select("doc_id", t.alias("__t"), F.explode(starts0).alias("__s0"))
        .select(
            "doc_id",
            (F.col("__s0") + 1).cast("int").alias("chunk_start"),
            F.concat_ws(" ", F.slice("__t", F.col("__s0") + 1, size)).alias("chunk"),
        )
    )


@_q(
    "ohlc_resample",
    # open/close = value at the (ts, event_id)-min/max row. Spark computes
    # them with min_by/max_by over a struct ordering key (pure aggregate,
    # map-side partial, ONE shuffle); DuckDB lacks composite arg_min, so
    # the oracle states the same semantics as a window + group. round(sum)
    # at 2 dp follows the established events-value pattern (sessionize).
    """
    WITH e AS (
      SELECT event_type, date_trunc('hour', ts) AS bkt, ts, event_id, value
      FROM events
    ),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type, bkt
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY event_type, bkt
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM e
    )
    SELECT event_type, strftime(bkt, '%Y-%m-%d %H:%M:%S') AS bucket,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           max(value) AS high, min(value) AS low,
           count(*) AS n, round(sum(value), 2) AS volume
    FROM r GROUP BY event_type, bkt
    """,
)
def ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series bar aggregation (OHLC candlesticks) per event type and
    hour: deterministic open/close via min_by/max_by on a (ts, event_id)
    struct key — a single partial-aggregated shuffle, no window sort."""
    ev = _t(spark, sf_dir, "events")
    ordk = F.struct("ts", "event_id")
    return (
        ev.select(
            "event_type",
            F.date_trunc("hour", "ts").alias("bkt"),
            "ts",
            "event_id",
            "value",
        )
        .groupBy("event_type", "bkt")
        .agg(
            F.min_by("value", ordk).alias("open"),
            F.max_by("value", ordk).alias("close"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("volume"),
        )
        .select(
            "event_type",
            F.date_format("bkt", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "open",
            "close",
            "high",
            "low",
            "n",
            "volume",
        )
    )


@_q(
    "scalar_map",
    # DuckDB map['k'] yields a one-element LIST (hence the [1]); Spark's
    # element_at yields the scalar directly. Output scalars, never map
    # cells — the driver canonicalizer hashes scalar/array columns only.
    """
    SELECT o_orderkey,
           map(['status', 'prio'],
               [o_orderstatus, o_orderpriority])['status'][1] AS status_v,
           map(['status', 'prio'],
               [o_orderstatus, o_orderpriority])['prio'][1] AS prio_v,
           CAST(cardinality(map(['status', 'prio'],
               [o_orderstatus, o_orderpriority])) AS INTEGER) AS m_size
    FROM orders
    """,
)
def scalar_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 map-typed columns: construct, key lookup, cardinality — all
    JVM expressions."""
    o = _t(spark, sf_dir, "orders")
    m = F.create_map(
        F.lit("status"),
        F.col("o_orderstatus"),
        F.lit("prio"),
        F.col("o_orderpriority"),
    )
    return o.select(
        "o_orderkey",
        F.element_at(m, "status").alias("status_v"),
        F.element_at(m, "prio").alias("prio_v"),
        F.size(m).alias("m_size"),
    )


@_q(
    "tpch_q18_shape",
    # Large-volume-customer shape (TPC-H Q18): HAVING over a fact
    # aggregation, then join the surviving order keys back to orders and
    # the customer dim. DECIMAL sums keep the HAVING boundary exact.
    """
    WITH big AS (
      SELECT l_orderkey,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 260
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
           round(o.o_totalprice, 2) AS o_totalprice,
           round(b.total_qty, 2) AS total_qty
    FROM big b
    JOIN orders o ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def tpch_q18_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: the big-orders aggregate is tiny after HAVING, so AQE
    turns both back-joins into broadcasts — the fact table is scanned once
    and never re-shuffled."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    qty = F.sum(F.col("l_quantity").cast("decimal(18,2)"))
    big = (
        li.groupBy("l_orderkey")
        .agg(qty.cast("double").alias("total_qty"))
        .filter(F.col("total_qty") > 260)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("total_qty", 2).alias("total_qty"),
        )
    )


@_q(
    "scalar_regex",
    """
    SELECT c_custkey,
           CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS name_num,
           regexp_matches(c_name, '^Customer#') AS well_formed
    FROM customer
    """,
)
def scalar_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 regex functions: extraction + predicate, both JVM-side."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.regexp_extract("c_name", r"([0-9]+)", 1).cast("bigint").alias("name_num"),
        F.col("c_name").rlike("^Customer#").alias("well_formed"),
    )


@_q(
    "string_distance",
    """
    SELECT p_partkey, p_name,
           CAST(levenshtein(p_name, 'red widget') AS INTEGER) AS dist
    FROM part WHERE levenshtein(p_name, 'red widget') <= 6
    """,
)
def string_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance filter (fuzzy matching — both engines implement
    classic Levenshtein)."""
    p = _t(spark, sf_dir, "part")
    d = F.levenshtein("p_name", F.lit("red widget"))
    return p.filter(d <= 6).select("p_partkey", "p_name", d.alias("dist"))


@_q("neardup_cosine_lsh", None)  # LSH recall is seed-deterministic but approximate
def neardup_cosine_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for all-pairs similarity: multi-table hyperplane LSH +
    per-bucket block GEMM (exact-precision, tunable recall)."""
    return _sim.neardup_cosine_lsh(
        _t(spark, sf_dir, "embeddings"), "embedding", "vec_id",
        threshold=0.40, num_tables=6, num_planes=4,
        n_rows=tables.row_count(sf_dir, "embeddings"),
    )


# ---------------------------------------------------------------------------
# Grouped custom aggregation via applyInPandas (SURVEY §2.11 UDAF path) +
# unpivot/melt reshaping
# ---------------------------------------------------------------------------


@_q(
    "grouped_udaf_slope",
    """
    SELECT user_id,
           round(regr_slope(value, epoch(ts) / 86400.0), 4) + 0.0 AS slope
    FROM events GROUP BY user_id
    """,
)
def grouped_udaf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS slope of value over time, computed as a CUSTOM grouped
    aggregate in applyInPandas (Arrow batch per group, numpy closed form) —
    the UDAF escape hatch for aggregations Spark lacks. Oracle: DuckDB's
    native regr_slope. (Spark also has regr_slope; the point here is
    exercising the applyInPandas path against a closed-form answer.)"""
    import numpy as np
    import pandas as pd

    ev = _t(spark, sf_dir, "events").select(
        "user_id", (F.col("ts").cast("double") / 86400.0).alias("t_days"), "value"
    )

    def _slope(pdf: pd.DataFrame) -> pd.DataFrame:
        t = pdf["t_days"].to_numpy()
        v = pdf["value"].to_numpy()
        if len(t) < 2 or np.var(t) == 0.0:
            s = np.nan
        else:
            s = float(np.cov(t, v, bias=True)[0, 1] / np.var(t))
        return pd.DataFrame({"user_id": [pdf["user_id"].iloc[0]], "slope": [s]})

    out = ev.groupBy("user_id").applyInPandas(_slope, "user_id long, slope double")
    return out.select("user_id", (F.round("slope", 4) + 0.0).alias("slope"))


@_q(
    "unpivot_melt",
    """
    SELECT o_orderkey, metric, round(val, 2) AS val FROM (
      SELECT o_orderkey, 'price' AS metric, o_totalprice AS val FROM orders
      UNION ALL
      SELECT o_orderkey, 'custkey' AS metric, CAST(o_custkey AS DOUBLE) AS val FROM orders
    )
    """,
)
def unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide -> long reshaping via stack (the unpivot dual of pivot_agg)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.expr(
            "stack(2, 'price', o_totalprice, 'custkey', CAST(o_custkey AS DOUBLE))"
        ).alias("metric", "val"),
    ).select("o_orderkey", "metric", F.round("val", 2).alias("val"))


@_q(
    "dedup_pipeline",
    # The Spark side is an iterative label-propagation fixpoint, but its
    # converged answer is exactly the min-id connected component — which the
    # oracle computes non-iteratively via a recursive-CTE transitive closure
    # over the (portable-hash) pair list. exact_first=True mirrors the
    # exact-dedup-before-minhash composition below.
    _dedup.cluster_oracle_sql(
        "documents", "doc_id", "text", threshold=0.9, estimate_prefilter=False,
        exact_first=True,
    ),
)
def dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete near-dup dedup pipeline: exact dedup (md5 of
    normalized text, min-id representative) -> MinHash+LSH pairs over the
    REPRESENTATIVES only -> connected-component clusters over minhash
    edges plus (rep, duplicate) edges -> canonical representative per
    cluster. Exact-first is the 100 TB ordering: mass-identical
    boilerplate (which agrees on every LSH band) collapses linearly
    before banding, so no LSH bucket can go quadratic in the copy count
    (round-9 verdict item 1). Returns (doc_id, cluster, is_canonical)
    for every document."""
    docs = _t(spark, sf_dir, "documents")
    pairs = _dedup.exact_then_minhash_pairs(
        docs, "doc_id", threshold=0.9, estimate_prefilter=False
    )
    # trusted_edges: exact_then_minhash_pairs' edge list is distinct by
    # construction with every endpoint a corpus document (same docs
    # frame), so the clusterer's input guards are provably no-ops here
    clusters = _dedup.dedup_clusters(
        pairs, docs.select("doc_id"), "doc_id", trusted_edges=True
    )
    return clusters.select(
        "doc_id", "cluster", (F.col("doc_id") == F.col("cluster")).alias("is_canonical")
    )


@_q(
    "stratified_sample",
    """
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(concat_ws(':', 'sample-v1', CAST(doc_id AS STRING))),
                        doc_id) AS rn
      FROM documents)
    WHERE rn <= 20
    """,
)
def stratified_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced per-language draw: exactly 20 docs per lang by seeded md5
    order — deterministic and engine-portable where sampleBy's RNG is not
    (operators/sampling.py)."""
    from sdlt_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return stratified_sample(docs, "lang", "doc_id", 20)


@_q(
    "dataset_split",
    """
    SELECT split, count(*) AS n, count(DISTINCT doc_id) AS n_ids
    FROM (
      SELECT doc_id,
             CASE WHEN substr(md5(concat_ws(':', 'split-v1',
                              CAST(doc_id AS STRING))), 1, 2) < 'cc' THEN 'train'
                  WHEN substr(md5(concat_ws(':', 'split-v1',
                              CAST(doc_id AS STRING))), 1, 2) < 'e6' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    GROUP BY split
    """,
)
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by md5 key bucket — stable
    under re-partitioning, appends, and engine swaps (the oracle runs the
    identical expression in DuckDB), unlike seeded sample()/randomSplit().
    The per-split counts are the declared check; membership itself is the
    CASE expression both engines share."""
    from sdlt_spark.operators.sampling import deterministic_split

    docs = _t(spark, sf_dir, "documents")
    return (
        deterministic_split(docs, "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("doc_id").alias("n_ids"),
        )
    )


from sdlt_spark.operators import packing as _packing  # noqa: E402

_MIX_WEIGHTS = {"en": 0.5, "zh": 0.2, "es": 0.2, "fr": 0.1}


@_q(
    "pack_sequences",
    _packing.pack_sequences_sql("documents", "doc_id", "text", budget=512),
)
def pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/packing.py): every document assigned to
    its training-sequence bin by cumulative token count in doc_id order —
    the shard-construction step after filtering/dedup. The Spark side is
    the scalable two-level prefix sum (quantile chunks -> bounded
    per-chunk subtotals -> broadcast offsets -> ONE window shuffle keyed
    by chunk); the oracle is the single-window ANSI form the operator
    exists to avoid executing at scale. Identical (doc_id, n_tokens, bin)
    triples either way."""
    docs = _t(spark, sf_dir, "documents")
    return _packing.pack_sequences(docs, "doc_id", "text", budget=512)


@_q(
    "mixture_sample",
    _packing.mixture_sample_sql(
        "documents", "lang", "doc_id", _MIX_WEIGHTS, total=200,
        select_cols="doc_id, lang, source",
    ),
)
def mixture_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture construction (operators/packing.py): a fixed-size draw whose
    language proportions match target weights (50/20/20/10 en/zh/es/fr;
    'de' is off-mixture and dropped), each stratum filled in seeded-md5
    order — deterministic, append-stable, and quota-starved identically on
    both engines when a stratum runs out (the sf0.001 fixture exercises
    that path)."""
    docs = _t(spark, sf_dir, "documents")
    return _packing.mixture_sample(
        docs, "lang", "doc_id", _MIX_WEIGHTS, total=200
    ).select("doc_id", "lang", "source")


@_q(
    "passage_overlap",
    # Self-join of the (portable) winnowing fingerprints: doc pairs sharing
    # >= 3 selected passages. Stop-fingerprints (in > 50 docs) are dropped
    # first — standard winnowing practice, and the skew/blowup guard: one
    # boilerplate passage in n docs would otherwise emit n^2/2 pairs.
    "WITH fp AS (" + _text.winnow_oracle_sql("documents", "doc_id", "text", k=5, w=4)
    + """),
    df AS (
      SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 50
    ),
    keep AS (SELECT f.doc_id, f.fp FROM fp f JOIN df USING (fp))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fps
    FROM keep a JOIN keep b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= 3
    """,
)
def passage_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 extension — passage-level (local) overlap detection: documents
    sharing >= 3 winnowing fingerprints, i.e. multiple >= 8-token runs in
    common, which whole-document MinHash misses when the rest of the pair
    diverges. The fingerprint self-join is an equi join on a 8-byte key;
    fingerprints occurring in > 50 documents are dropped first (boilerplate
    passages — each would contribute O(n^2) candidate pairs AND a hot
    shuffle key; the frequency cut is the same move dedup makes with
    stop-shingles)."""
    from sdlt_spark.operators.dedup import _materialize_and_release

    out, fps = _passage_overlap_lazy(spark, sf_dir)
    return _materialize_and_release(out, fps)


def _passage_overlap_lazy(spark: SparkSession, sf_dir: str):
    """The passage_overlap plan pre-materialization: returns (result,
    persisted fingerprint frame). Split out so plan tests can inspect the
    join/prefilter shape the registry entry's eager checkpoint hides."""
    fps = _text.winnow_fingerprints(_t(spark, sf_dir, "documents"), "doc_id").persist()
    common = (
        fps.groupBy("fp").agg(F.count(F.lit(1)).alias("ndocs"))
        .filter(F.col("ndocs") <= 50)
        .select("fp")
    )
    keep = fps.join(common, "fp")
    a = keep.select(F.col("doc_id").alias("id_a"), "fp")
    b = keep.select(F.col("doc_id").alias("id_b"), "fp")
    out = (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= 3)
    )
    return out, fps


@_q(
    "token_budget_sample",
    """
    SELECT doc_id, source, n_tokens, cum_tokens FROM (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
             CAST(sum(len(string_split(text, ' '))) OVER (
               PARTITION BY source
               ORDER BY md5(concat_ws(':', 'budget-v1', CAST(doc_id AS STRING))),
                        doc_id) AS BIGINT) AS cum_tokens
      FROM documents)
    WHERE cum_tokens <= 500
    """,
)
def token_budget_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 extension — mixture construction: stable greedy draw of ~500
    tokens per source by seeded md5 order (operators/sampling.py
    token_budget_sample). Deterministic under re-partitioning, appends
    outside the budget frontier, and engine swaps."""
    from sdlt_spark.operators.sampling import token_budget_sample

    return token_budget_sample(
        _t(spark, sf_dir, "documents"), "source", "doc_id", "text", budget=500
    )


@_q(
    "dsir_weights",
    # DSIR (Xie et al. 2023): hashed unigram+bigram bucket models with
    # Laplace smoothing; log_w = sum over a doc's gram occurrences of
    # log p_target(b) - log p_raw(b). Target model = the lang='en' slice.
    # Per-bucket log-ratio rounds to 12 decimals BEFORE the per-doc sum
    # (both engines), so libm/summation-order last-ulp noise is dead at
    # the 4-decimal output precision.
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    uni AS (SELECT doc_id, unnest(t) AS g FROM toks),
    bi AS (
      SELECT doc_id, t[i] || '_' || t[i+1] AS g
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
            FROM toks)
    ),
    grams AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(g), 1, 8) AS BIGINT)
               % 2147483647 % 4096 AS b
      FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
    ),
    tgt AS (SELECT g.b FROM grams g JOIN documents d USING (doc_id)
            WHERE d.lang = 'en'),
    tcnt AS (SELECT b, count(*) AS ct FROM tgt GROUP BY b),
    rcnt AS (SELECT b, count(*) AS cr FROM grams GROUP BY b),
    ratio AS (
      SELECT r.b,
             round(ln(coalesce(t.ct, 0) + 1.0)
                   - ln((SELECT count(*) FROM tgt) + 4096)
                   - ln(r.cr + 1.0)
                   + ln((SELECT count(*) FROM grams) + 4096), 12) AS lr
      FROM rcnt r LEFT JOIN tcnt t USING (b)
    ),
    scored AS (
      SELECT doc_id, count(*) AS n_grams, round(sum(lr), 4) AS lw
      FROM grams JOIN ratio USING (b) GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(s.n_grams, 0) AS INT) AS n_grams,
           coalesce(s.lw, 0.0) AS log_w
    FROM documents d LEFT JOIN scored s USING (doc_id)
    """,
)
def dsir_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 extension — DSIR importance weights (arXiv:2302.03169): score
    every document by how lang='en'-like its hashed n-gram distribution
    is. The bucket models are two bounded B-row aggregates that broadcast
    at any corpus size; scoring is one broadcast join + one per-doc
    shuffle (operators/sampling.py dsir_weights; dsir_topk is the
    selection step)."""
    from sdlt_spark.operators.sampling import dsir_weights

    docs = _t(spark, sf_dir, "documents")
    return dsir_weights(docs, docs.filter(F.col("lang") == "en"))


@_q(
    "dedup_cluster_sizes",
    "SELECT cluster, count(*) AS size FROM ("
    + _dedup.cluster_oracle_sql(
        "documents", "doc_id", "text", threshold=0.9, estimate_prefilter=False,
        exact_first=True,
    )
    + ") GROUP BY cluster HAVING count(*) >= 2",
)
def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level view of the dedup pipeline: one row per NON-SINGLETON
    duplicate cluster with its size. Unlike dedup_pipeline (one row per
    document — a count no pipeline bug can move), the row count here is the
    number of discovered duplicate clusters: deterministic for the fixture,
    and any regression in pair generation, transitive closure, or canonical
    labeling shifts it. Invariants (min-id labeling, one canonical per
    cluster, pair endpoints co-clustered) are asserted in
    tests/test_dedup.py::test_pipeline_invariants."""
    labeled = dedup_pipeline(spark, sf_dir)
    return (
        labeled.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("size"))
        .filter(F.col("size") >= 2)
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# TPC-H Q1/Q6 shapes — the canonical scan-heavy aggregation benchmarks
# ---------------------------------------------------------------------------


@_q(
    "tpch_q1_shape",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice) + 1e-6, 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)) + 1e-6, 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) + 1e-6, 2) AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing-summary shape (TPC-H Q1): one full scan, map-side partial
    aggregation into a tiny (flag, status) group space — the classic
    whole-stage-codegen throughput benchmark. No joins; the only shuffle
    carries pre-aggregated partials (a few rows per task), so at 100 TB the
    cost is exactly the scan."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice") + 1e-6, 2).alias("sum_base_price"),
        F.round(F.sum(disc) + 1e-6, 2).alias("sum_disc_price"),
        F.round(F.sum(disc * (1 + F.col("l_tax"))) + 1e-6, 2).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@_q(
    "tpch_q6_shape",
    """
    SELECT round(sum(l_extendedprice * l_discount) + 1e-6, 2) AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-revenue shape (TPC-H Q6): highly selective conjunctive
    filter + global sum. Every predicate reaches the parquet scan
    (PushedFilters + row-group zone maps), so the engine reads a fraction
    of the table — the data-skipping showcase."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")) + 1e-6, 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# Range (non-equi) join + scalar subquery + grouping sets
# ---------------------------------------------------------------------------


@_q(
    "range_join",
    """
    WITH bands(band, lo, hi) AS (VALUES
      ('early', TIMESTAMP '1992-01-01', TIMESTAMP '1995-01-01'),
      ('mid',   TIMESTAMP '1995-01-01', TIMESTAMP '1997-01-01'),
      ('late',  TIMESTAMP '1997-01-01', TIMESTAMP '2002-01-01'))
    SELECT band, count(*) AS n, round(sum(o_totalprice) + 1e-6, 2) AS total
    FROM orders JOIN bands ON o_orderdate >= lo AND o_orderdate < hi
    GROUP BY band
    """,
)
def range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True non-equi (interval containment) join: each order lands in the
    date band containing its order date. The band table is tiny and
    broadcast, so Catalyst plans BroadcastNestedLoopJoin — each executor
    streams its order partition against the in-memory bands, no shuffle of
    the fact side. This is the scalable shape for banding/bucketing joins;
    an unbroadcast non-equi join would be a cartesian disaster."""
    # a SQL VALUES local relation, not createDataFrame: no Python-RDD
    # conversion, and TIMESTAMP_NTZ literals match o_orderdate's type so the
    # join condition needs no per-row cast
    bands = spark.sql(
        """
        SELECT band, CAST(lo AS TIMESTAMP_NTZ) AS lo, CAST(hi AS TIMESTAMP_NTZ) AS hi
        FROM VALUES ('early', '1992-01-01', '1995-01-01'),
                    ('mid',   '1995-01-01', '1997-01-01'),
                    ('late',  '1997-01-01', '2002-01-01') AS t(band, lo, hi)
        """
    )
    o = _t(spark, sf_dir, "orders")
    return (
        o.join(
            F.broadcast(bands),
            (o.o_orderdate >= bands.lo) & (o.o_orderdate < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice") + 1e-6, 2).alias("total"),
        )
    )


@_q(
    "scalar_subquery",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS price
    FROM orders
    WHERE o_totalprice > 3 * (SELECT avg(o_totalprice) FROM orders)
    """,
)
def scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery filter: orders above 3x the global average price.
    The 1-row aggregate is cross-joined (automatically broadcast) against
    the fact scan — two passes over orders, no wide shuffle."""
    o = _t(spark, sf_dir, "orders")
    avg = o.agg((F.avg("o_totalprice") * 3).alias("__cut"))
    return (
        o.crossJoin(F.broadcast(avg))
        .filter(F.col("o_totalprice") > F.col("__cut"))
        .select("o_orderkey", F.round("o_totalprice", 2).alias("price"))
    )


@_q(
    "grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           round(sum(o_totalprice) + 1e-6, 2) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 explicit GROUPING SETS (the general form of rollup/cube): one
    pass computes per-status totals, per-priority totals, and the grand
    total; Spark expands the sets map-side, so it is still a single
    shuffle on the (expanded) grouping keys."""
    o = _t(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice") + 1e-6, 2).alias("total"),
    )


_MINHASH_INCREMENTAL: dict = {}


@_q(
    "minhash_lsh_dedup_incremental",
    # The from-scratch-equality oracle (round-12 verdict next item 1): the
    # incremental build + 2 CDC folds must reproduce the classic
    # minhash_lsh_dedup answer over the FULL corpus bit-exactly — same
    # pairs, same jaccard — so the oracle IS the classic entry's full-table
    # SQL. A probe that missed a cross-batch pair, re-derived an
    # index x index pair, or drifted a signature hash-mismatches here.
    _dedup.minhash_oracle_sql(
        "documents", "doc_id", "text", threshold=0.9, estimate_prefilter=False
    ),
)
def minhash_lsh_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 incremental — near-dup pairs maintained against a PERSISTED
    signature index (operators/minhash_index.py), the daily-crawl shape:
    60% of the corpus builds the index, then two 20% CDC batches fold in
    via minhash_refresh, each computing signatures for ITS BATCH ONLY and
    probing the index (batch-banded keys broadcast against a
    column-pruned index scan — the corpus is never re-hashed, index x
    index pairs never re-derived). The result is the union of the build's
    pairs and each refresh's NEW pairs; insert-only ingest needs no
    stale_ids retraction. At 100 TB with a daily 0.1% increment this is
    the ~1000x saving over re-running the classic operator per day."""
    import tempfile

    from sdlt_spark.operators import minhash_index as _mi
    from sdlt_spark.store import VintageTable

    key = (id(spark), sf_dir)
    cached = _MINHASH_INCREMENTAL.get(key)
    if cached is None:
        from sdlt_spark.exec import overlap

        docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
        root = tempfile.mkdtemp(prefix="sdlt_mh_inc_")
        corpus = VintageTable(spark, root + "/corpus", change_feed=True)
        v0 = corpus.write(docs.filter(F.col("doc_id") % 5 < 3))
        idx = root + "/index"
        # Ingest/index overlap (guide §2.6): each corpus merge commits a
        # version the CURRENT build/refresh step never reads — the build is
        # pinned to v0 and the first refresh folds exactly v0+1..v1 — so
        # the next batch's ingest runs CONCURRENTLY with the previous
        # step's probe + verify + index commit (different tables, disjoint
        # version ranges: results are deterministic by construction, and
        # the oracle asserts them equal to the from-scratch pair set).
        #
        # defer=True (round-13 verdict item 3): each step returns as soon
        # as ITS index commit lands — the legality point for the next step
        # — while its pairs verification keeps running on a background
        # thread. Step N's verify checkpoint (the bulk of each step's
        # wall) then overlaps step N+1's signature/probe/merge jobs; the
        # three Futures are awaited only at the final union. Pairs are
        # bit-identical to the eager lifecycle (same plans, same
        # checkpoints), which the from-scratch-equality oracle asserts.
        (f0, _rep), m1 = overlap(
            lambda: _mi.minhash_index_build(
                corpus, idx, "doc_id", "text", threshold=0.9, version=v0,
                defer=True,
            ),
            lambda: corpus.merge(docs.filter(F.col("doc_id") % 5 == 3), ["doc_id"]),
        )
        v1 = m1.result()
        (f1, _s1, _r1), m2 = overlap(
            lambda: _mi.minhash_refresh(corpus, idx, to_version=v1, defer=True),
            lambda: corpus.merge(docs.filter(F.col("doc_id") % 5 == 4), ["doc_id"]),
        )
        m2.result()
        f2, _s2, _r2 = _mi.minhash_refresh(corpus, idx, defer=True)
        # the three legs are already checkpoint-backed; the union is cheap
        # and cached so repeat correctness calls don't rebuild the lifecycle
        cached = (
            f0.result()
            .unionByName(f1.result())
            .unionByName(f2.result())
            .localCheckpoint(eager=True)
        )
        _MINHASH_INCREMENTAL[key] = cached
    return cached


_IVF_INDEX: dict = {}


@_q("ann_ivf_persisted", None)  # ANN -> rows-only
def ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The build-once/probe-many IVF shape: the index is a cell-clustered
    VintageTable + centroid sidecar (ivf_build, cached per session); each
    search reads only the files whose __cell zone overlaps the probed
    cells. This is what ann_ivf_topk becomes when the corpus is too big to
    re-assign per query."""
    import tempfile

    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    key = (id(spark), sf_dir)
    entry = _IVF_INDEX.get(key)
    if entry is None or not entry.exists():
        path = tempfile.mkdtemp(prefix="sdlt_ivf_") + "/index"
        entry, _ = _sim.ivf_build(
            emb.filter(F.col("vec_id") != 0), "embedding", "vec_id", path,
            n_cells=16,
        )
        _IVF_INDEX[key] = entry
    return _sim.ivf_search(
        spark, entry.path, "embedding", "vec_id", list(query), k=10, nprobe=6
    )


_IVF_REFRESH: dict = {}


@_q("ann_ivf_refresh", None)  # ANN + driver-side k-means -> rows-only
def ann_ivf_refresh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance (round-9 verdict next item 3):
    the corpus table takes a merge (updated vectors + new ids) and a
    delete AFTER ivf_build; ivf_refresh folds the CDC deltas into cell
    membership — O(changed rows), old centroids — and republishes the
    sidecar, so the probe below runs against the MUTATED corpus, never
    stale cells. The entry asserts (raising on violation, so the driver
    sees a hard failure) that the refreshed index equals a from-scratch
    ivf_assign of the mutated corpus with the same centroids, then
    returns a full-width probe, which therefore equals exact brute-force
    cosine top-k over the mutated corpus."""
    import tempfile

    from sdlt_spark.store import VintageTable

    key = (id(spark), sf_dir)
    entry = _IVF_REFRESH.get(key)
    if entry is None:
        from sdlt_spark.exec import overlap

        emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
        root = tempfile.mkdtemp(prefix="sdlt_ivf_refresh_")
        corpus = VintageTable(spark, root + "/corpus", change_feed=True)
        v0 = corpus.write(emb.select("vec_id", "embedding"))
        idx = root + "/index"
        # corpus.read() pins the v0 file list HERE (driver-side), and the
        # copy-on-write delete never removes files from disk (only vacuum
        # does), so the index build over the v0 snapshot and the delete
        # commit (v1) are independent jobs — run them concurrently
        # (guide §2.6); ivf_refresh below folds v1..v2 CDC either way.
        snap0 = corpus.read()
        (_, cents), fut_del = overlap(
            lambda: _sim.ivf_build(
                snap0, "embedding", "vec_id", idx, n_cells=16,
                txn_id=f"ivf_refresh:{v0}",
            ),
            lambda: corpus.delete("vec_id % 9 = 2"),
        )
        fut_del.result()
        corpus.merge(  # flip a slice across cells + plant fresh ids
            emb.filter((F.col("vec_id") % 9 != 2) & (F.col("vec_id") % 6 == 1))
            .select(
                "vec_id", F.transform("embedding", lambda x: -x).alias("embedding")
            )
            .unionByName(
                emb.filter(F.col("vec_id") % 11 == 0).select(
                    (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
                )
            ),
            ["vec_id"],
        )
        rep = _sim.ivf_refresh(corpus, idx, "embedding", "vec_id")
        if not (rep["upserts"] and rep["deletes"]):
            raise AssertionError(f"refresh folded nothing: {rep}")
        if not rep["rebuilt"] and ANN_REFRESH_VERIFY:
            t = VintageTable(spark, idx)
            diff = (
                t.read()
                .select("vec_id", "__cell")
                .exceptAll(
                    _sim.ivf_assign(corpus.read(), "embedding", cents).select(
                        "vec_id", "__cell"
                    )
                )
                .count()
            )
            if diff:
                raise AssertionError(
                    f"{diff} refreshed index rows differ from a re-assign"
                )
        _IVF_REFRESH[key] = entry = (idx, list(
            emb.filter(F.col("vec_id") == 1).select("embedding").head()[0]
        ))
    idx, query = entry
    return _sim.ivf_search(
        spark, idx, "embedding", "vec_id", query, k=10, nprobe=16
    )


@_q("ann_ivf_topk", None)
def ann_ivf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN (FAISS-style): centroids trained on a bounded seeded
    sample, corpus assigned to cells JVM-side, query probes only the
    nearest nprobe cells. The scale path for similarity search when the
    corpus is written partitioned by cell."""
    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return _sim.ann_ivf_topk(
        emb.filter(F.col("vec_id") != 0),
        "embedding",
        "vec_id",
        list(query),
        k=10,
        n_cells=16,
        nprobe=6,
    )


@_q("ann_pq_topk", None)
def ann_pq_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with exact rerank (FAISS IndexPQ+refine,
    Jégou et al. 2011): codebooks trained on a bounded seeded sample,
    corpus encoded to m small codes executor-side, query scored by an
    ADC lookup table (map-only, O(m) per row), shortlist exactly
    rescored. The memory-bounded scale path — PQ codes fit in cache
    where raw embeddings never could. Rows-only: gated by the
    planted-neighbor recall test."""
    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return _sim.ann_pq_topk(
        emb.filter(F.col("vec_id") != 0),
        "embedding",
        "vec_id",
        list(query),
        k=10,
        m=4,
        nbits=4,
    )


_BPE_SQL = _text.BPE_PATTERN.replace("'", "''")


@_q(
    "bpe_token_count",
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_SQL}')) AS BIGINT) AS n_bpe_tokens,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens
    FROM documents
    """,
)
def bpe_token_count_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: BPE-ish pre-tokenizer counts (the LLM token-cost proxy) — the
    regex is plain alternation so Java regex (Spark) and RE2 (DuckDB)
    tokenize identically."""
    return _text.bpe_token_count(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_bpe_tokens", "n_ws_tokens"
    )


@_q(
    "winnow_fingerprint",
    _text.winnow_oracle_sql("documents", "doc_id", "text", k=5, w=4),
)
def winnow_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: rolling-hash winnowing fingerprints (MOSS) — passage-level
    overlap detection; (doc_id, fp) pairs ready for a self-join. Portable
    md5-derived hashing end to end, so the oracle recomputes every
    fingerprint (operators/text.py winnow_oracle_sql)."""
    return _text.winnow_fingerprints(_t(spark, sf_dir, "documents"), "doc_id")


@_q(
    "resample_ffill",
    """
    WITH obs AS (
      SELECT user_id, date_trunc('day', ts) AS day, value,
             row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ),
    daily AS (SELECT user_id, day, value FROM obs WHERE rn = 1),
    bounds AS (SELECT user_id, min(day) AS lo, max(day) AS hi FROM daily GROUP BY user_id),
    grid AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM bounds)
    SELECT g.user_id,
           strftime(g.day, '%Y-%m-%d') AS day,
           round(last_value(d.value IGNORE NULLS)
                 OVER (PARTITION BY g.user_id ORDER BY g.day
                       ROWS UNBOUNDED PRECEDING), 2) AS value
    FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
    """,
)
def resample_ffill_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + forward fill: each user's irregular events
    become one row per day over their own active range, carrying the last
    observed value across silent days (deterministic last-by (ts,
    event_id))."""
    out = _ts.resample_ffill(
        _t(spark, sf_dir, "events"),
        "user_id",
        "ts",
        "value",
        tiebreak_cols=["event_id"],
    )
    return out.select(
        "user_id",
        F.date_format("bucket_start", "yyyy-MM-dd").alias("day"),
        F.round("value", 2).alias("value"),
    )


@_q("vintage_restore", _ORDERS_PROJ_SQL)
def vintage_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollback (README.md:321): after a merge commit, restore(version=0)
    must reproduce the initial load as the new table HEAD — a metadata-only
    commit re-pointing at the v0 files."""
    t = _fresh_vintage(spark, sf_dir)
    t.merge(_merge_src(spark, sf_dir), ["o_orderkey"])
    t.restore(version=0)
    return t.read()


@_q(
    "array_agg",
    """
    SELECT o_orderpriority,
           array_to_string(list_sort(list(o_orderkey))[1:5], ',') AS first_keys,
           count(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation: collect_list is order-nondeterministic under
    parallel merge, so both sides sort before slicing — the pattern for any
    oracle-checkable list aggregate. The declared output serializes the
    array to a CSV string (the driver's canonicalizer cannot hash list
    cells); the sort/slice still happens on the typed array."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.array_join(
            F.slice(F.sort_array(F.collect_list("o_orderkey")), 1, 5).cast(
                "array<string>"
            ),
            ",",
        ).alias("first_keys"),
        F.count(F.lit(1)).alias("n"),
    )


@_q(
    "having_semijoin",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS price
    FROM orders
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING sum(l_quantity) > 150
    )
    """,
)
def having_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume-order shape (TPC-H Q18's core): aggregate with HAVING
    feeding an IN-subquery = groupBy + filter + left-semi join. The
    aggregate output is tiny (qualifying keys only), so AQE broadcasts it
    into the semi join — one shuffle for the agg, none for the probe."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    o = _t(spark, sf_dir, "orders")
    return o.join(big, o.o_orderkey == big.l_orderkey, "left_semi").select(
        "o_orderkey", F.round("o_totalprice", 2).alias("price")
    )


# ---------------------------------------------------------------------------
# §2.5/§2.4 — round-4 TPC-H shape batch: the remaining canonical access
# patterns (EXISTS-group, nation-pair volume, promo ratio, distinct-supplier
# count with NOT IN, disjunctive join predicate, anti-join + scalar AVG).
# The reference's own workload is single-table (README.md:86,235-236); these
# cover the join/subquery shapes its users would run against the same star
# schema at 100 TB.
# ---------------------------------------------------------------------------


@_q(
    "tpch_q4_shape",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority
    """,
)
def tpch_q4_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape (order-priority checking): EXISTS decorrelates to a left-semi
    join; the date filter pushes to the orders scan, the returnflag filter to
    the lineitem scan. The semi join's build side is lineitem keys only
    (column-pruned to l_orderkey), and the 5-group count is a two-phase
    hash aggregate."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@_q(
    "tpch_q7_shape",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INTEGER) AS l_year,
           round(sum(l_extendedprice * (1 - l_discount)) + 1e-6, 2) AS revenue
    FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape (volume shipping between two nations): the nation table is
    joined twice under different roles — supplier side and customer side —
    with a disjunctive pair filter. Both nation copies and supplier/customer
    broadcast; the only shuffle is lineitem⋈orders, then the 3-key group.
    At 100 TB the pair filter cuts the fact stream before the group-by
    because Catalyst pushes the residual OR below the aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) + 1e-6, 2
            ).alias("revenue"),
        )
        .select("supp_nation", "cust_nation", "l_year", "revenue")
    )


@_q(
    "tpch_q14_shape",
    """
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1996-03-01'
    """,
)
def tpch_q14_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape (promotion effect): conditional-aggregate ratio over a
    fact⋈dim join. The ship-date window pushes to the lineitem scan; part
    broadcasts, so the whole query is one broadcast-join map stage plus a
    single-row final aggregate (partial aggs combine map-side)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-03-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_pct")
        )
    )


@_q(
    "tpch_q16_shape",
    """
    SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size
    """,
)
def tpch_q16_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape (parts/supplier relationship): NOT IN over a never-NULL key
    decorrelates to a left-anti join against the excluded-supplier list
    (tiny → broadcast), the part predicate trio pushes into the broadcast
    build side, and count(DISTINCT) expands to the standard two-shuffle
    distinct-then-count plan."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45)
    )
    bad_s = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(bad_s), li.l_suppkey == bad_s.s_suppkey, "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@_q(
    "tpch_q19_shape",
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)) + 1e-6, 2) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape (discounted revenue, disjunctive predicate): the OR spans
    both join sides so it can't fully push down, but Catalyst derives the
    single-side implications (brand IN (...) onto part, quantity <= 30 onto
    lineitem) and pushes those; the residual OR evaluates inside the
    broadcast-join stage — no shuffle at all before the single-row agg."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    branch = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(branch).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) + 1e-6, 2
        ).alias("revenue")
    )


@_q(
    "tpch_q22_shape",
    """
    SELECT c_nationkey,
           count(*) AS numcust,
           round(sum(c_acctbal) + 1e-6, 2) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_nationkey
    """,
)
def tpch_q22_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape (global-sales-opportunity): scalar AVG subquery (computed
    once, broadcast as a literal-sized 1-row frame) gates the customer scan;
    NOT EXISTS decorrelates to a left-anti join against the order keys
    (column-pruned to o_custkey before the shuffle). Group-by nation is a
    25-group two-phase aggregate."""
    c = _t(spark, sf_dir, "customer")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("__ab")
    )
    o_keys = _t(spark, sf_dir, "orders").select("o_custkey")
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__ab"))
        .join(o_keys, c.c_custkey == o_keys.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal") + 1e-6, 2).alias("totacctbal"),
        )
    )


@_q(
    "doc_repetition",
    """
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS l
      FROM documents WHERE len(string_split(text, ' ')) >= 2
    ),
    uc AS (
      SELECT doc_id, g, count(*) AS c
      FROM (SELECT doc_id, unnest(l) AS g FROM base) GROUP BY doc_id, g
    ),
    per_uni AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / sum(c), 4)
               AS dup_token_frac,
             round(log2(CAST(sum(c) AS DOUBLE))
                   - sum(c * log2(CAST(c AS DOUBLE))) / sum(c), 4)
               AS token_entropy
      FROM uc GROUP BY doc_id
    ),
    bc AS (
      SELECT doc_id, bg, count(*) AS c
      FROM (SELECT doc_id,
                   unnest(list_transform(range(1, len(l)),
                                         i -> l[i] || ' ' || l[i + 1])) AS bg
            FROM base)
      GROUP BY doc_id, bg
    ),
    per_bi AS (
      SELECT doc_id, round(max(c) * 1.0 / sum(c), 4) AS top_bigram_frac
      FROM bc GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, dup_token_frac, token_entropy, top_bigram_frac
    FROM per_uni JOIN per_bi USING (doc_id)
    """,
)
def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 extension — Gopher-repetition signals (duplicate-token fraction,
    unigram entropy, top-bigram share) per document; see
    operators/text.py:repetition_stats for the scale analysis."""
    from sdlt_spark.operators.text import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


@_q(
    "mode_agg",
    """
    WITH cnt AS (
      SELECT l_returnflag, l_quantity, count(*) AS c
      FROM lineitem GROUP BY l_returnflag, l_quantity
    ),
    ranked AS (
      SELECT l_returnflag, l_quantity, c,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY c DESC, l_quantity) AS rn
      FROM cnt
    )
    SELECT l_returnflag, l_quantity AS mode_qty, c AS mode_n
    FROM ranked WHERE rn = 1
    """,
)
def mode_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 extension — deterministic MODE per group. Built as count + window
    argmax with an explicit (count DESC, value ASC) tiebreak instead of the
    native mode() aggregate, whose tie choice is engine-dependent — the same
    determinism rule array_agg applies to collect_list. Two-phase agg on
    (group, value) then a per-group window over the tiny count table."""
    li = _t(spark, sf_dir, "lineitem")
    cnt = li.groupBy("l_returnflag", "l_quantity").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("c"), F.asc("l_quantity"))
    return (
        cnt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("l_quantity").alias("mode_qty"),
            F.col("c").alias("mode_n"),
        )
    )


@_q(
    "window_first_last",
    """
    SELECT o_orderkey, o_custkey,
           first_value(o_totalprice) OVER w AS first_price,
           last_value(o_totalprice) OVER w AS last_price,
           nth_value(o_totalprice, 2) OVER w AS second_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 extension — FIRST_VALUE / LAST_VALUE / NTH_VALUE over an explicit
    unbounded frame (the default frame would stop LAST_VALUE at the current
    row — the classic window-frame trap, made explicit here so both engines
    agree). Single shuffle on the partition key; (date, key) ordering makes
    every value deterministic."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )


@_q("orc_scan", "SELECT doc_id, text, lang, source, n_chars FROM documents")
def orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 extension: ORC sink + source (the other columnar interchange
    format Spark ships a vectorized reader for). Stages documents as ORC,
    reads them back; lossless roundtrip -> identity-projection oracle, the
    same scan-back pattern json_scan uses. ORC carries its own schema, so
    no explicit schema on re-read — and unlike inferSchema on text formats
    that costs no extra scan."""
    import tempfile

    from sdlt_spark import sources as _src

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    stage = tempfile.mkdtemp(prefix="sdlt_orc_scan_")
    _src.write_orc(docs, stage)
    return _src.read_orc(spark, stage).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


@_q(
    "pack_sequences_sharded",
    """
    WITH toks AS (
      SELECT source, doc_id % 16 AS shard, doc_id,
             len(string_split(text, ' ')) AS n_tok
      FROM documents
    ),
    packed AS (
      SELECT source, shard, doc_id, n_tok,
             CAST(floor((sum(n_tok) OVER (PARTITION BY source, shard
                                          ORDER BY doc_id
                                          ROWS UNBOUNDED PRECEDING) - 1)
                        / 256) AS BIGINT) AS seq_id
      FROM toks
    )
    SELECT source, CAST(shard AS BIGINT) AS shard, seq_id,
           count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS seq_tokens
    FROM packed GROUP BY source, shard, seq_id
    """,
)
def pack_sequences_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 extension — training-sequence packing (GPT-style concat-then-chunk):
    documents are concatenated in deterministic (doc_id) order within a
    (source, shard) stream and the token stream is chunked into 256-token
    training sequences; a doc belongs to the sequence its first token lands
    in. Emits per-sequence doc and token counts (the packing manifest).

    Scale shape: packing is embarrassingly parallel ACROSS shards and
    inherently sequential WITHIN one — so the operator keys the cumsum
    window by (source, shard), the same layout a 100 TB pipeline uses
    (one packer per input shard, no global order). One shuffle on the
    shard key; the window is a running sum, not a re-sort per row."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        (F.col("doc_id") % 16).alias("shard"),
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tok"),
    )
    w = (
        Window.partitionBy("source", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.withColumn(
        "seq_id",
        F.floor((F.sum("n_tok").over(w) - 1) / 256).cast("long"),
    )
    return packed.groupBy("source", "shard", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("seq_tokens"),
    )


@_q(
    "tfidf_top_terms",
    """
    WITH tf AS (
      SELECT doc_id, g AS term, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS g FROM documents)
      GROUP BY doc_id, g
    ),
    dfreq AS (SELECT term, count(*) AS dfq FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln(n.n_docs * 1.0 / dfreq.dfq), 4) AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rk
      FROM scored
    )
    SELECT doc_id, term, tfidf, CAST(rk AS INTEGER) AS rk
    FROM ranked WHERE rk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 extension — corpus TF-IDF with top-3 characteristic terms per
    document (the classic keyword-extraction / topic-signal op). Term
    frequencies and document frequencies are map-side-combinable aggregates
    on (doc, term) / (term); the corpus size N joins in as a broadcast
    1-row frame (never a driver constant — on a cluster the count is a
    job); document-frequency joins back by term (AQE broadcasts it when the
    vocabulary is small, shuffles when it isn't). Deterministic tiebreak
    (score DESC, term ASC) for the top-3 window."""
    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfq"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("dfq")), 4
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tfidf", F.col("rk").cast("int").alias("rk"))
    )


@_q(
    "event_funnel",
    """
    WITH per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN ts END) AS t_sign,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
      FROM events GROUP BY user_id
    )
    SELECT CAST(CASE WHEN t_sign IS NULL THEN 0
                     WHEN t_view IS NULL OR t_view < t_sign THEN 1
                     WHEN t_buy IS NULL OR t_buy < t_view THEN 2
                     ELSE 3 END AS INTEGER) AS funnel_depth,
           count(*) AS n_users
    FROM per_user GROUP BY 1
    """,
)
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 extension — first-touch funnel (signup → view → purchase):
    users grouped by how far their FIRST occurrences progress in order.
    One shuffle on user_id with conditional-min partial aggregation (the
    funnel stages are three CASE-wrapped mins in a single pass — no
    per-stage self-joins, which is what makes it survive 100 TB of
    events); the depth histogram is a 4-group rollup."""
    ev = _t(spark, sf_dir, "events")

    def first_ts(etype: str):
        return F.min(F.when(F.col("event_type") == etype, F.col("ts")))

    per_user = ev.groupBy("user_id").agg(
        first_ts("signup").alias("t_sign"),
        first_ts("view").alias("t_view"),
        first_ts("purchase").alias("t_buy"),
    )
    depth = (
        F.when(F.col("t_sign").isNull(), 0)
        .when(F.col("t_view").isNull() | (F.col("t_view") < F.col("t_sign")), 1)
        .when(F.col("t_buy").isNull() | (F.col("t_buy") < F.col("t_view")), 2)
        .otherwise(3)
    )
    return (
        per_user.groupBy(depth.cast("int").alias("funnel_depth"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@_q(
    "embedding_centroids",
    """
    SELECT label, CAST(pos AS INTEGER) AS pos,
           round(avg(CAST(v AS DOUBLE)), 4) + 0.0 AS centroid_v,
           count(*) AS n
    FROM (SELECT label, unnest(embedding) AS v,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings)
    GROUP BY label, pos
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 extension — per-label centroid vectors (the training step of
    IVF/k-means curation, and the class-prototype op for embedding-space
    analysis). posexplode keys the aggregate by (label, dimension), so the
    shuffle carries one float per dimension per row and partial aggregation
    collapses it executor-side; no vector ever materializes on the driver.
    Emitted exploded (label, pos, value) — the relational form of a vector
    result, and exactly what the oracle can check."""
    e = _t(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos0", "v"))
        .groupBy("label", (F.col("pos0") + 1).cast("int").alias("pos"))
        .agg(
            (F.round(F.avg(F.col("v").cast("double")), 4) + 0.0).alias("centroid_v"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@_q(
    "interpolate_gaps",
    """
    WITH masked AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
      FROM events
    ),
    spans AS (
      SELECT event_id, user_id, ts, v,
             last(CASE WHEN v IS NOT NULL
                       THEN {'t': epoch_us(ts), 'x': v} END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS pv,
             first(CASE WHEN v IS NOT NULL
                        THEN {'t': epoch_us(ts), 'x': v} END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
      FROM masked
    )
    SELECT event_id, user_id,
           round(CASE
             WHEN v IS NOT NULL THEN v
             WHEN pv IS NULL THEN struct_extract(nv, 'x')
             WHEN nv IS NULL THEN struct_extract(pv, 'x')
             WHEN struct_extract(nv, 't') = struct_extract(pv, 't')
               THEN struct_extract(pv, 'x')
             ELSE struct_extract(pv, 'x')
                  + (struct_extract(nv, 'x') - struct_extract(pv, 'x'))
                    * (epoch_us(ts) - struct_extract(pv, 't'))
                    / (struct_extract(nv, 't') - struct_extract(pv, 't'))
           END, 4) AS filled,
           (v IS NULL) AS was_gap
    FROM spans
    """,
)
def interpolate_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 extension — linear interpolation of missing values between the
    nearest valid neighbors (time-weighted), the standard sensor/timeseries
    gap-fill. A deterministic mask (event_id % 5) synthesizes the gaps so
    the oracle can reproduce them. IGNORE NULLS last/first over
    prev/next-unbounded frames carry (ts, value) structs of the bracketing
    valid points — one shuffle on user_id, two frames over the same sort,
    no self-join against the valid subset (which at 100 TB would be a
    second shuffle of the whole series)."""
    ev = _t(spark, sf_dir, "events")
    masked = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_id") % 5 == 0, None).otherwise(F.col("value")).alias("v"),
    )
    point = F.when(
        F.col("v").isNotNull(),
        F.struct(F.unix_micros("ts").alias("t"), F.col("v").alias("x")),
    )
    order = [F.col("ts"), F.col("event_id")]
    wp = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    spans = masked.withColumns(
        {
            "pv": F.last(point, ignorenulls=True).over(wp),
            "nv": F.first(point, ignorenulls=True).over(wn),
        }
    )
    pv_t, pv_x = F.col("pv.t"), F.col("pv.x")
    nv_t, nv_x = F.col("nv.t"), F.col("nv.x")
    filled = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), nv_x)
        .when(F.col("nv").isNull(), pv_x)
        .when(nv_t == pv_t, pv_x)
        .otherwise(
            pv_x
            + (nv_x - pv_x)
            * (F.unix_micros("ts") - pv_t)
            / (nv_t - pv_t)
        )
    )
    return spans.select(
        "event_id",
        "user_id",
        F.round(filled, 4).alias("filled"),
        F.col("v").isNull().alias("was_gap"),
    )


@_q(
    "logical_bit_agg",
    """
    SELECT o_orderpriority,
           bool_and(o_totalprice > 0) AS all_pos,
           bool_or(o_orderstatus = 'F') AS any_final,
           CAST(bit_xor(o_orderkey) AS BIGINT) AS key_xor,
           arg_max(o_orderkey,
                   printf('%015.2f|%012d', o_totalprice, o_orderkey)) AS top_order
    FROM orders GROUP BY o_orderpriority
    """,
)
def logical_bit_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 extension — logical (bool_and/bool_or), bitwise (bit_xor) and
    argmax (max_by) aggregates. max_by's tiebreak is engine-dependent, so
    the ordering key is a zero-padded sortable string embedding the
    (price, key) pair — the deterministic-argmax pattern when the native
    tuple ordering isn't portable. All four are single-pass partial
    aggregates."""
    o = _t(spark, sf_dir, "orders")
    sort_key = F.format_string("%015.2f|%012d", "o_totalprice", "o_orderkey")
    return o.groupBy("o_orderpriority").agg(
        F.bool_and(F.col("o_totalprice") > 0).alias("all_pos"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_final"),
        F.expr("bit_xor(o_orderkey)").cast("long").alias("key_xor"),
        F.max_by("o_orderkey", sort_key).alias("top_order"),
    )


@_q(
    "contamination_check",
    """
    WITH split_docs AS (
      SELECT doc_id, text,
             CASE WHEN substr(md5(concat_ws(':', 'split-v1',
                              CAST(doc_id AS STRING))), 1, 2) < 'cc' THEN 'train'
                  WHEN substr(md5(concat_ws(':', 'split-v1',
                              CAST(doc_id AS STRING))), 1, 2) < 'e6' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ),
    shingled AS (
      SELECT doc_id, split,
             md5(unnest(list_transform(range(1, len(l) - 3),
                                       i -> array_to_string(l[i:i+4], ' ')))) AS fp
      FROM (SELECT doc_id, split, string_split(text, ' ') AS l FROM split_docs)
      WHERE len(l) >= 5
    ),
    train_fps AS (SELECT DISTINCT fp FROM shingled WHERE split = 'train'),
    eval_docs AS (SELECT DISTINCT doc_id FROM shingled WHERE split = 'test'),
    dirty AS (
      SELECT DISTINCT s.doc_id
      FROM shingled s JOIN train_fps t USING (fp)
      WHERE s.split = 'test'
    )
    SELECT (SELECT count(*) FROM eval_docs) AS n_eval_docs,
           (SELECT count(*) FROM dirty) AS n_contaminated,
           round((SELECT count(*) FROM dirty) * 1.0
                 / (SELECT count(*) FROM eval_docs), 4) AS contamination_rate
    """,
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 extension — train/eval decontamination report: an eval ('test'
    split) document is contaminated when it shares any 5-gram with the
    train split (the n-gram-overlap rule used for pre-training eval
    hygiene). Splits come from the same deterministic md5 bucketing as
    `dataset_split`; shingles are md5'd so the overlap join shuffles
    16-byte fingerprints, never text. Train fingerprints are distinct'ed
    map-side before the semi join; at 100 TB this is the standard
    fingerprint-intersection shape (two compact-key exchanges), and the
    report is a 1-row reduction."""
    from sdlt_spark.operators.sampling import deterministic_split

    docs = deterministic_split(_t(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        "doc_id", "split", F.split("text", " ").alias("l")
    ).filter(F.size("l") >= 5)
    shingled = toks.select(
        "doc_id",
        "split",
        F.explode(
            F.expr(
                "transform(sequence(1, size(l) - 4),"
                " i -> concat_ws(' ', slice(l, i, 5)))"
            )
        ).alias("sh"),
    ).select("doc_id", "split", F.md5("sh").alias("fp"))
    train_fps = shingled.filter(F.col("split") == "train").select("fp").distinct()
    eval_side = shingled.filter(F.col("split") == "test")
    # one distributed pass: left join marks hits, per-doc max(flag) folds
    # shingles to a dirty bit, and the report is a 1-row reduction — no
    # separate count jobs, nothing driver-side
    flags = (
        eval_side.join(train_fps.withColumn("__hit", F.lit(1)), "fp", "left")
        .groupBy("doc_id")
        .agg(F.max(F.coalesce("__hit", F.lit(0))).alias("dirty"))
    )
    return flags.agg(
        F.count(F.lit(1)).alias("n_eval_docs"),
        F.sum("dirty").alias("n_contaminated"),
        F.round(F.sum("dirty") / F.count(F.lit(1)), 4).alias("contamination_rate"),
    )


@_q(
    "mixture_weights",
    """
    WITH targets AS (
      SELECT * FROM (VALUES ('src0', 3.0), ('src1', 2.0), ('src2', 2.0))
        t(source, raw_w)
    ),
    weighted AS (
      SELECT d.source, count(*) AS n_docs,
             coalesce(max(t.raw_w), 1.0) AS raw_w
      FROM documents d LEFT JOIN targets t USING (source)
      GROUP BY d.source
    ),
    totals AS (
      SELECT sum(n_docs) AS total_docs, sum(raw_w) AS total_w FROM weighted
    )
    SELECT source, n_docs,
           round(n_docs * 1.0 / total_docs, 4) AS actual_frac,
           round(raw_w / total_w, 4) AS target_frac,
           round((raw_w / total_w) / (n_docs * 1.0 / total_docs), 4)
             AS sample_weight
    FROM weighted CROSS JOIN totals
    """,
)
def mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 extension — domain-mixture reweighting (the Pile/DoReMi-style
    sampling-weight table): given target mixture weights per source
    (upweight src0..src2, default 1.0 elsewhere), emit each source's
    actual corpus share and the sampling weight (target share / actual
    share) a weighted sampler applies. The config joins in as a broadcast
    literal table; corpus shares are one partial-agg pass; the totals row
    broadcasts back — no shuffle touches documents themselves."""
    docs = _t(spark, sf_dir, "documents")
    targets = spark.createDataFrame(
        [("src0", 3.0), ("src1", 2.0), ("src2", 2.0)], "source string, raw_w double"
    )
    weighted = (
        docs.join(F.broadcast(targets), "source", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.max("raw_w"), F.lit(1.0)).alias("raw_w"),
        )
    )
    totals = weighted.agg(
        F.sum("n_docs").alias("total_docs"), F.sum("raw_w").alias("total_w")
    )
    actual = F.col("n_docs") / F.col("total_docs")
    target = F.col("raw_w") / F.col("total_w")
    return (
        weighted.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            F.round(actual, 4).alias("actual_frac"),
            F.round(target, 4).alias("target_frac"),
            F.round(target / actual, 4).alias("sample_weight"),
        )
    )


@_q(
    "variant_json_agg",
    """
    SELECT event_type, count(*) AS n,
           round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 2)
             AS avg_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY event_type
    """,
)
def variant_json_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 extension — semi-structured aggregation through Spark 4's
    VARIANT type: ``parse_json`` decodes each props payload ONCE into the
    binary variant encoding, and ``variant_get`` extracts typed fields
    without re-parsing text per access — the modern engine answer to JSON
    string columns (repeated ``get_json_object`` calls re-parse the string
    every time). At 100 TB the parse happens in the scan-side project and
    only the extracted 8-byte value reaches the aggregate."""
    ev = _t(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(k), 2).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


# ---------------------------------------------------------------------------
# Round-4 session-3: remaining TPC-H access-pattern shapes (adapted to the
# fixture star schema — no partsupp table, so the part/supplier relationships
# come through lineitem). Reference parity: the reference's merge is the only
# join it ships (README.md:127); these shapes document that the engine's join
# planner covers the full TPC-H subquery/decorrelation spectrum.
# ---------------------------------------------------------------------------


@_q(
    "tpch_q2_shape",
    """
    WITH m AS (SELECT l_partkey AS m_partkey, min(l_extendedprice) AS min_price
               FROM lineitem GROUP BY l_partkey)
    SELECT p_partkey, s_suppkey, s_name, round(min_price, 2) AS min_price
    FROM lineitem JOIN m ON l_partkey = m_partkey AND l_extendedprice = min_price
         JOIN part ON p_partkey = l_partkey
         JOIN supplier ON s_suppkey = l_suppkey
    WHERE p_size <= 5
    """,
)
def tpch_q2_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-cost-supplier shape (TPC-H Q2): for every small part, the
    supplier(s) whose lineitem hit the per-part minimum price — a correlated
    MIN subquery decorrelated into a group-agg + re-join. min() is
    order-independent (unlike sum), so the float equality is deterministic
    across engines. The per-part agg shuffles compact (partkey, min) pairs;
    part and supplier join in via broadcast at this dimension size."""
    li = _t(spark, sf_dir, "lineitem")
    m = li.groupBy(F.col("l_partkey").alias("m_partkey")).agg(
        F.min("l_extendedprice").alias("min_price")
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
    s = _t(spark, sf_dir, "supplier")
    return (
        li.join(
            m,
            (li.l_partkey == m.m_partkey) & (li.l_extendedprice == m.min_price),
        )
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .select(
            "p_partkey",
            "s_suppkey",
            "s_name",
            F.round("min_price", 2).alias("min_price"),
        )
    )


@_q(
    "tpch_q12_shape",
    """
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_linestatus
    """,
)
def tpch_q12_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-mode priority split (TPC-H Q12): fact-fact equi join with the
    selective date filter pushed to the lineitem scan, then conditional
    counts folded into one agg pass (no per-branch scans). The join shuffles
    only (orderkey, priority) x (orderkey, linestatus) after pruning."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
    ).otherwise(0)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(high).cast("bigint").alias("high_line_count"),
            F.sum(1 - high).cast("bigint").alias("low_line_count"),
        )
    )


@_q(
    "tpch_q13_shape",
    """
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
          FROM customer LEFT JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey) t
    GROUP BY c_count
    """,
)
def tpch_q13_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (TPC-H Q13): outer join with the
    filter INSIDE the join condition (so customers with zero qualifying
    orders survive with count 0), then a second aggregation over the first's
    output. The second agg's input is one row per customer — tiny — so the
    expensive shuffle happens once, on the join key."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    counts = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return counts.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@_q(
    "tpch_q15_shape",
    """
    WITH sq AS (SELECT l_suppkey, sum(l_quantity) AS total_qty FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate < TIMESTAMP '1996-07-01'
                GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, round(total_qty, 2) AS total_qty
    FROM supplier JOIN sq ON s_suppkey = l_suppkey
    WHERE total_qty = (SELECT max(total_qty) FROM sq)
    """,
)
def tpch_q15_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-supplier view (TPC-H Q15): windowed supplier volume, keep the
    argmax via a scalar-subquery comparison. The half-year quantity sums are
    integer-valued doubles (exact in IEEE), so the max-equality is
    engine-deterministic. The scalar max is one row crossed back in
    (broadcast); the supplier dim joins broadcast too — the only real
    shuffle is the per-supplier partial agg."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    sq = li.groupBy("l_suppkey").agg(F.sum("l_quantity").alias("total_qty"))
    mx = sq.agg(F.max("total_qty").alias("mx"))
    s = _t(spark, sf_dir, "supplier")
    return (
        sq.crossJoin(F.broadcast(mx))
        .filter(F.col("total_qty") == F.col("mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", F.round("total_qty", 2).alias("total_qty"))
    )


@_q(
    "tpch_q17_shape",
    """
    WITH pa AS (SELECT l_partkey AS a_partkey, 0.2 * avg(l_quantity) AS thresh
                FROM lineitem GROUP BY l_partkey)
    SELECT round(sum(l_extendedprice) / 7.0 + 1e-6, 2) AS avg_yearly,
           count(*) AS n
    FROM lineitem JOIN part ON p_partkey = l_partkey
         JOIN pa ON a_partkey = l_partkey
    WHERE p_brand = 'Brand#1' AND l_quantity < thresh
    """,
)
def tpch_q17_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity-order revenue (TPC-H Q17): a correlated AVG subquery
    (per-part mean quantity) decorrelated into a group-agg joined back to
    the fact rows. Quantities are integers, so avg = exact-sum/exact-count
    is bit-identical across engines and the `<` threshold cannot flip. The
    brand filter prunes the part side before the join; the per-part agg
    and the fact re-join share the l_partkey shuffle key, which AQE reuses."""
    li = _t(spark, sf_dir, "lineitem")
    pa = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("thresh")
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(pa, F.col("l_partkey") == F.col("a_partkey"))
        .filter(F.col("l_quantity") < F.col("thresh"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0 + 1e-6, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@_q(
    "tpch_q20_shape",
    """
    SELECT s_suppkey, s_name FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_type = 'PROMO'
        AND l_shipdate >= TIMESTAMP '1995-01-01'
        AND l_shipdate < TIMESTAMP '1996-01-01'
      GROUP BY l_suppkey
      HAVING sum(l_quantity) > 300)
    """,
)
def tpch_q20_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excess-volume suppliers (TPC-H Q20): an IN-subquery whose inner query
    is itself an aggregate with HAVING — planned as agg -> filter ->
    left-semi join. The semi join carries only supplier keys (the agg output
    is <= |suppliers| rows), so the dim side probes a tiny hash table. The
    integer-valued quantity sum keeps the HAVING threshold deterministic."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    qualified = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 300)
    )
    s = _t(spark, sf_dir, "supplier")
    return s.join(
        qualified, s.s_suppkey == qualified.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


@_q(
    "tpch_q21_shape",
    """
    SELECT s_name, count(*) AS numwait
    FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
         JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
    """,
)
def tpch_q21_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sole-blamed-supplier shape (TPC-H Q21): the hardest reference query —
    one EXISTS and one NOT EXISTS, both correlated on the join key plus a
    non-equi suppkey inequality. Spark plans them as a left-semi and a
    left-anti join on l_orderkey with the inequality as a residual
    condition, so each is one hash join, not a per-row subquery. Both probe
    sides project only (orderkey, suppkey[, returnflag]) — compact shuffles
    regardless of fact width."""
    li = _t(spark, sf_dir, "lineitem")
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .alias("l1")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3")
    )
    s = _t(spark, sf_dir, "supplier")
    waited = (
        l1.join(o, F.col("l1.l_orderkey") == o.o_orderkey, "left_semi")
        .join(
            l2,
            (F.col("l1.l_orderkey") == F.col("k2"))
            & (F.col("l1.l_suppkey") != F.col("s2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l1.l_orderkey") == F.col("k3"))
            & (F.col("l1.l_suppkey") != F.col("s3")),
            "left_anti",
        )
    )
    return (
        waited.join(F.broadcast(s), F.col("l1.l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ---------------------------------------------------------------------------
# Round-4 session-3: analysis / profiling operators. The reference's only
# "profiling" is count-after-every-step (README.md:86 etc.); these give the
# engine the standard column-profile / distribution / normalization surface
# an analytics user expects.
# ---------------------------------------------------------------------------


@_q(
    "profile_table",
    """
    SELECT 'c_custkey' AS col, count(*) AS n_rows,
           CAST(count(*) - count(c_custkey) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_distinct,
           CAST(min(c_custkey) AS DOUBLE) AS min_v,
           CAST(max(c_custkey) AS DOUBLE) AS max_v
    FROM customer
    UNION ALL
    SELECT 'c_nationkey', count(*),
           CAST(count(*) - count(c_nationkey) AS BIGINT),
           CAST(count(DISTINCT c_nationkey) AS BIGINT),
           CAST(min(c_nationkey) AS DOUBLE), CAST(max(c_nationkey) AS DOUBLE)
    FROM customer
    UNION ALL
    SELECT 'c_acctbal', count(*),
           CAST(count(*) - count(c_acctbal) AS BIGINT),
           CAST(count(DISTINCT c_acctbal) AS BIGINT),
           CAST(min(c_acctbal) AS DOUBLE), CAST(max(c_acctbal) AS DOUBLE)
    FROM customer
    """,
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler (the `ANALYZE TABLE` / data-quality pass every engine
    ships): one scan computes null counts, distinct counts, and min/max for
    each profiled column, then unpivots to one row per column. Spark plans
    the multi-distinct agg with one Expand — still a single pass over the
    data, and the shuffle carries only partial aggregates. min/max stay
    numeric (DOUBLE) on both sides: string-rendering floats would hash
    differently per engine."""
    c = _t(spark, sf_dir, "customer")
    cols = ["c_custkey", "c_nationkey", "c_acctbal"]
    agg = c.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.count(col).alias(f"cnt_{col}") for col in cols],
        *[F.countDistinct(col).alias(f"nd_{col}") for col in cols],
        *[F.min(col).cast("double").alias(f"min_{col}") for col in cols],
        *[F.max(col).cast("double").alias(f"max_{col}") for col in cols],
    )
    stack = ", ".join(
        f"'{col}', cast(n_rows - cnt_{col} as bigint), cast(nd_{col} as bigint),"
        f" min_{col}, max_{col}"
        for col in cols
    )
    return agg.selectExpr(
        f"stack({len(cols)}, {stack}) AS (col, n_nulls, n_distinct, min_v, max_v)",
        "n_rows",
    ).select("col", "n_rows", "n_nulls", "n_distinct", "min_v", "max_v")


@_q(
    "histogram_fixed",
    """
    SELECT CAST(least(floor(o_totalprice / 50000), 9) AS INTEGER) AS bucket,
           count(*) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM orders GROUP BY 1
    """,
)
def histogram_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (width_bucket without relying on the function
    existing in every engine): bucket index from exact floor arithmetic, so
    the boundaries are engine-deterministic. One partial-agg pass; the
    shuffle carries <= 10 rows per task."""
    o = _t(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / 50000), F.lit(9)).cast("int")
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@_q(
    "grouped_normalize",
    """
    SELECT c_custkey, c_mktsegment,
           round((c_acctbal - avg(c_acctbal) OVER (PARTITION BY c_mktsegment))
                 / stddev_samp(c_acctbal) OVER (PARTITION BY c_mktsegment),
                 4) AS z
    FROM customer
    """,
)
def grouped_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score normalization (feature standardization): unbounded
    group windows for mean/stddev, one shuffle on the group key. At scale
    the same result comes cheaper from a two-pass groupBy+broadcast-join
    (tiny stats table), but the window form keeps it one declarative plan;
    both shapes shuffle the fact once."""
    w = Window.partitionBy("c_mktsegment")
    z = (F.col("c_acctbal") - F.avg("c_acctbal").over(w)) / F.stddev_samp(
        "c_acctbal"
    ).over(w)
    return _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", F.round(z, 4).alias("z")
    )


@_q(
    "window_cume_dist",
    """
    SELECT c_custkey, c_mktsegment,
           round(cume_dist() OVER
                 (PARTITION BY c_mktsegment ORDER BY c_acctbal), 4) AS cd,
           CAST(dense_rank() OVER
                (PARTITION BY c_mktsegment ORDER BY c_acctbal) AS BIGINT)
             AS drank
    FROM customer
    """,
)
def window_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 extension: cumulative distribution + dense rank per group. Both
    are count-ratio functions of the ORDER BY value alone (peer rows share
    values), so results are deterministic under any partition-internal sort
    order — no tiebreak key needed."""
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    return _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.cume_dist().over(w), 4).alias("cd"),
        F.dense_rank().over(w).cast("bigint").alias("drank"),
    )


@_q(
    "unigram_logprob",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    freq AS (
      SELECT token, count(*) AS cnt FROM toks GROUP BY token
    ),
    tot AS (SELECT sum(cnt) AS total FROM freq)
    SELECT doc_id,
           round(avg(-ln(cnt / total)), 3) AS avg_neg_logprob,
           count(*) AS n_tokens
    FROM toks JOIN freq USING (token) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: per-document mean negative log
    probability under the corpus's own unigram distribution — the cheap
    statistical stand-in for LM-based quality filtering (high score = rare
    vocabulary = often noise). Two shuffles: the token histogram (compact
    (token, count) pairs) and the per-doc agg; the histogram joins back onto
    the exploded tokens by token key — AQE broadcasts it while the vocab is
    small and falls back to a shuffle join when it isn't. The corpus total
    is a 1-row broadcast."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    tot = freq.agg(F.sum("cnt").alias("total"))
    return (
        toks.join(freq, "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(-F.log(F.col("cnt") / F.col("total"))), 3).alias(
                "avg_neg_logprob"
            ),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )


@_q(
    "bigram_logprob",
    """
    WITH toks AS (
      SELECT doc_id, u.i, t[u.i] AS w
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           LATERAL unnest(range(1, len(t) + 1)) AS u(i)
    ),
    bg AS (
      SELECT doc_id, w AS w1,
             lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2
      FROM toks QUALIFY w2 IS NOT NULL
    ),
    c2 AS (SELECT w1, w2, count(*) AS cnt2 FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, count(*) AS cnt1 FROM bg GROUP BY w1),
    v AS (SELECT count(DISTINCT w) AS vocab FROM toks)
    SELECT doc_id,
           round(avg(-ln((cnt2 + 0.5) / (cnt1 + 0.5 * vocab))), 3)
             AS avg_neg_logprob,
           count(*) AS n_bigrams
    FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
    GROUP BY doc_id
    """,
)
def bigram_logprob_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style bigram-LM quality score (the step up from
    unigram_logprob): mean -ln P(w_i | w_{i-1}) per document under an
    add-0.5-smoothed bigram model trained on the corpus itself. Bigram
    extraction is map-only (zip_with over two array slices — adjacency
    without a posexplode + window shuffle); the two histogram aggs shuffle
    compact (pair, count) rows; the vocab size is a 1-row broadcast."""
    from sdlt_spark.operators.text import bigram_logprob

    return bigram_logprob(_t(spark, sf_dir, "documents"), "doc_id", "text")


# ---------------------------------------------------------------------------
# Round-4 session-3: embedding clustering (operators/clustering.py)
# ---------------------------------------------------------------------------


@_q(
    "kmeans_assign",
    """
    WITH cent AS (SELECT vec_id AS cid, embedding AS cvec
                  FROM embeddings WHERE vec_id < 8),
    d AS (
      SELECT e.vec_id, c.cid,
             list_aggregate(list_transform(range(1, len(e.embedding) + 1),
                                           i -> (e.embedding[i] - c.cvec[i]) ^ 2),
                            'sum') AS dist
      FROM embeddings e CROSS JOIN cent c
    ),
    a AS (
      SELECT vec_id, cid, dist,
             row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      FROM d
    )
    SELECT cid AS cluster, count(*) AS n, round(avg(sqrt(dist)), 4) AS avg_dist
    FROM a WHERE rn = 1 GROUP BY cid
    """,
)
def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means assignment pass with fixed centroids (the embeddings of
    vec_id < 8), entirely in JVM expressions: the 8-row centroid side
    broadcasts, squared-L2 comes from an index-ordered zip_with fold (both
    engines sum in list order, keeping the float result deterministic), and
    argmin is min(struct(dist, cid)) — lexicographic struct comparison gives
    the cid tiebreak for free. The corpus never shuffles; only the final
    <=8-group agg does. The iterative path (operators/clustering.kmeans_fit)
    swaps this expression for an Arrow GEMM — same plan shape."""
    e = _t(spark, sf_dir, "embeddings")
    cent = (
        e.filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    )
    diff_sq = F.zip_with("embedding", "cvec", lambda x, y: (x - y) * (x - y))
    dist = F.aggregate(
        diff_sq, F.lit(0.0), lambda acc, v: acc + v.cast("double")
    )
    best = (
        e.crossJoin(F.broadcast(cent))
        .select("vec_id", F.struct(dist.alias("dist"), F.col("cid")).alias("dc"))
        .groupBy("vec_id")
        .agg(F.min("dc").alias("dc"))
    )
    return (
        best.select(F.col("dc.cid").alias("cluster"), F.col("dc.dist").alias("dist"))
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(F.sqrt("dist")), 4).alias("avg_dist"),
        )
    )


@_q("kmeans_fit", None)
def kmeans_fit_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full distributed Lloyd k-means (k=8, 3 iterations, seeded init) over
    the embedding corpus — assignment via Arrow GEMM map-only stages, centroid
    updates via k*dim partial-sum rows, driver traffic bounded at k*dim
    scalars per iteration (operators/clustering.py). Rows-only: the iterative
    float path is not ANSI-SQL-expressible, but the output (cluster sizes +
    mean distance) is deterministic for a fixed seed."""
    from sdlt_spark.operators import clustering

    e = _t(spark, sf_dir, "embeddings")
    assigned, _cents = clustering.kmeans_fit(
        e, "embedding", "vec_id", k=8, iters=3, seed=42
    )
    return clustering.cluster_profile(assigned)


@_q("semantic_dedup", None)
def semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup embedding-space near-dup removal (Abbas et al. 2023):
    k-means partition -> within-cell pairwise cosine GEMM -> transitive
    closure -> keep min-id representative (operators/dedup.py). Rows-only
    (k-means is not SQL-expressible); the planted-duplicate property test
    regression-guards exactness of the keep set.

    k SCALES WITH THE CORPUS (round-10 sf10 finding): the per-cell GEMM
    is O((n/k)² · d), so a FIXED cell count is quadratic in corpus size —
    k=8 at 200k vectors timed out a 10-minute cap where 20k vectors took
    2.5 s. The paper's recipe (tens of thousands of clusters at corpus
    scale) is cells ∝ n; here k = n / 2,000 (footer-count, no extra job),
    which leaves the sf0.1 fixture at the historical k=8 and keeps every
    cell's GEMM bounded at ~2k × 2k."""
    from sdlt_spark.operators.dedup import semantic_dedup

    n = tables.row_count(sf_dir, "embeddings")
    return semantic_dedup(
        _t(spark, sf_dir, "embeddings"),
        "embedding",
        "vec_id",
        k=max(8, n // 2_000),
        threshold=0.99,
    )


@_q(
    "vintage_sync",
    """
    WITH src AS (
      SELECT o_orderkey, 'S' AS o_orderstatus,
             round(o_totalprice * 0.5 + 1e-6, 2) AS o_totalprice
      FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM src
    UNION ALL
    SELECT o.o_orderkey, o.o_orderstatus, round(o.o_totalprice, 2) AS o_totalprice
    FROM orders o ANTI JOIN src s ON o.o_orderkey = s.o_orderkey
    WHERE NOT (o.o_orderstatus = 'F')
    """,
)
def vintage_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 extension — Delta's whenNotMatchedBySourceDelete as one real
    commit: upsert the source AND delete unmatched target rows satisfying
    the condition, atomically (store/vintage.py merge
    not_matched_by_source_delete=). Oracle = src UNION (target ANTI src,
    minus condition rows)."""
    t = _fresh_vintage(spark, sf_dir)
    src = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 3 == 0)
        .select(
            "o_orderkey",
            F.lit("S").alias("o_orderstatus"),
            F.round(F.col("o_totalprice") * 0.5 + 1e-6, 2).alias("o_totalprice"),
        )
    )
    t.merge(src, ["o_orderkey"], not_matched_by_source_delete="o_orderstatus = 'F'")
    return t.read()


@_q(
    "tpch_q8_shape",
    """
    WITH sales AS (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             sn.n_name AS supp_nation
      FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation cn ON cn.n_nationkey = c_nationkey
      JOIN region   ON r_regionkey = cn.n_regionkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation sn ON sn.n_nationkey = s_nationkey
      WHERE r_name = (SELECT min(r_name) FROM region)
    )
    SELECT o_year,
           round(sum(CASE WHEN supp_nation = (SELECT min(n_name) FROM nation)
                          THEN volume ELSE 0 END) / sum(volume), 4) AS mkt_share
    FROM sales GROUP BY o_year
    """,
)
def tpch_q8_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share (TPC-H Q8): a 6-table snowflake join (nation
    joined twice, once per role) feeding a conditional-sum ratio. Every dim
    side broadcasts; the two fact tables meet in the single real shuffle.
    The target region/nation come from 1-row scalar aggregates crossed in
    as broadcasts — no driver round-trip, no hardcoded fixture values."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region"))
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    r_min = r.agg(F.min("r_name").alias("rm"))
    n_min = n.agg(F.min("n_name").alias("nm"))
    target_region = (
        r.crossJoin(F.broadcast(r_min))
        .filter(F.col("r_name") == F.col("rm"))
        .select("r_regionkey")
    )
    sales = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(target_region), F.col("cn_region") == F.col("r_regionkey"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn_key"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            "supp_nation",
        )
    )
    return (
        sales.crossJoin(F.broadcast(n_min))
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == F.col("nm"), F.col("volume")).otherwise(
                        0.0
                    )
                )
                / F.sum("volume"),
                4,
            ).alias("mkt_share")
        )
    )


@_q(
    "tpch_q9_shape",
    """
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
           round(sum(l_extendedprice * (1 - l_discount)
                     - p_retailprice * l_quantity * 0.1) + 1e-6, 2) AS profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN orders   ON o_orderkey = l_orderkey
    WHERE contains(p_name, 'a')
    GROUP BY n_name, o_year
    """,
)
def tpch_q9_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-profit rollup (TPC-H Q9, supply cost proxied by
    p_retailprice*qty*0.1 — the fixtures carry no partsupp): the widest
    join tree in the suite. The substring filter prunes part before its
    broadcast; lineitem joins orders in the one real shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.contains("p_name", F.lit("a")))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity") * 0.1
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.round(F.sum(profit) + 1e-6, 2).alias("profit"))
    )


@_q(
    "tpch_q10_shape",
    """
    SELECT c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)) + 1e-6, 2) AS revenue
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name
    ORDER BY round(sum(l_extendedprice * (1 - l_discount)) + 1e-6, 2) DESC,
             c_custkey
    LIMIT 20
    """,
)
def tpch_q10_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item revenue top-20 (TPC-H Q10): filter -> join -> agg ->
    TakeOrderedAndProject. Ordering on the ROUNDED revenue (plus custkey
    tiebreak) keeps the limit boundary engine-deterministic — raw float
    sums could order near-ties differently per engine. Spark plans the
    limit as a per-partition top-k + single-reduce merge, never a full
    sort."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) + 1e-6, 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@_q(
    "tpch_q11_shape",
    """
    WITH nb AS (
      SELECT n_name, sum(s_acctbal) AS bal
      FROM supplier JOIN nation ON n_nationkey = s_nationkey
      GROUP BY n_name
    )
    SELECT n_name, round(bal + 1e-6, 2) AS bal
    FROM nb
    WHERE bal > (SELECT 0.02 * sum(bal) FROM nb)
    """,
)
def tpch_q11_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Important-stock shape (TPC-H Q11, supplier balances standing in for
    partsupp value): a grouped sum filtered against a fraction of the
    grand total — the HAVING-vs-global-scalar pattern. The grouped result
    is reused for both the threshold and the output (Spark computes nb
    once; the 1-row total crosses back in as a broadcast)."""
    s = _t(spark, sf_dir, "supplier").select("s_nationkey", "s_acctbal")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    nb = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum("s_acctbal").alias("bal"))
    )
    tot = nb.agg((F.lit(0.02) * F.sum("bal")).alias("thresh"))
    return (
        nb.crossJoin(F.broadcast(tot))
        .filter(F.col("bal") > F.col("thresh"))
        .select("n_name", F.round(F.col("bal") + 1e-6, 2).alias("bal"))
    )


# ---------------------------------------------------------------------------
# Round-4 session-3 additions: skewed join path, entity resolution,
# inverted index, Hive-partitioned interop, time-hierarchy rollup
# ---------------------------------------------------------------------------


@_q(
    "skew_join",
    """
    WITH d AS (
      SELECT event_type, round(avg(value), 6) AS w FROM events GROUP BY event_type
    )
    SELECT e.event_type, count(*) AS n,
           round(max(e.value * d.w), 6) AS max_weighted
    FROM events e JOIN d USING (event_type)
    GROUP BY e.event_type
    """,
)
def skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-extension: the SALTED equi join (operators/skew.py::salted_join)
    driver-checked. events.event_type has ~5 hot keys — the worst case for
    a shuffle join (every row of one key lands on one reducer). The salted
    form replicates the small side num_salts times and fans the big side by
    hash(event_id) % num_salts, so each hot key spreads over 8 tasks.

    Same answer as the plain join by construction (the oracle IS the plain
    join). On real clusters AQE's skew-join splitting handles this when the
    small side can't broadcast; the manual transform is for engines/configs
    without AQE and for aggregation-free pipelines where AQE's split points
    don't help. max() (order-independent) rather than sum() keeps the float
    result bit-stable across engines and task orders."""
    from sdlt_spark.operators.skew import salted_join

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    dim = ev.groupBy("event_type").agg(F.round(F.avg("value"), 6).alias("w"))
    joined = salted_join(ev, dim, on="event_type", salt_source="event_id", num_salts=8)
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.max(F.col("value") * F.col("w")), 6).alias("max_weighted"),
    )


@_q(
    "entity_resolution",
    """
    WITH lft AS (
      SELECT p_partkey AS cand_id, p_name AS cand_name,
             substr(regexp_replace(p_name, '[aeiou]', '', 'g'), 1, 4) AS blk
      FROM part
    ),
    rgt AS (
      SELECT p_partkey AS right_id,
             regexp_replace(p_name, '[aeiou]', '', 'g') AS dirty,
             substr(regexp_replace(p_name, '[aeiou]', '', 'g'), 1, 4) AS blk
      FROM part
    ),
    scored AS (
      SELECT r.right_id, l.cand_id, l.cand_name,
             CAST(levenshtein(l.cand_name, r.dirty) AS INTEGER) AS score,
             row_number() OVER (PARTITION BY r.right_id
                                ORDER BY levenshtein(l.cand_name, r.dirty), l.cand_id) AS rn
      FROM rgt r JOIN lft l USING (blk)
    )
    SELECT right_id, cand_id, cand_name, score FROM scored WHERE rn = 1
    """,
)
def entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage: block -> score -> best-match-per-record. The "dirty"
    side is a deterministic corruption of part names (vowels stripped); the
    blocking key (first 4 chars of the consonant skeleton) guarantees the
    true match shares a block, so candidate generation is an EQUI join on
    the block key — never the all-pairs cross join naive ER does. Scoring
    is classic Levenshtein (built-in, both engines); the best match is the
    min-score (ties: min id) row per dirty record via a ranking window.

    100 TB story: candidates = sum over blocks of |L_b| x |R_b|, controlled
    by block-key selectivity rather than corpus size; both the join and the
    per-record top-1 window shuffle on keys with bounded fan-in. Hot blocks
    (skewed key distributions) are the known failure mode — cap block size
    or salt, same as any skewed join."""
    p = _t(spark, sf_dir, "part")
    skel = F.regexp_replace("p_name", "[aeiou]", "")
    left = p.select(
        F.col("p_partkey").alias("cand_id"),
        F.col("p_name").alias("cand_name"),
        F.substring(skel, 1, 4).alias("blk"),
    )
    right = p.select(
        F.col("p_partkey").alias("right_id"),
        skel.alias("dirty"),
        F.substring(skel, 1, 4).alias("blk"),
    )
    scored = right.join(left, "blk").withColumn(
        "score", F.levenshtein("cand_name", "dirty")
    )
    w = Window.partitionBy("right_id").orderBy("score", "cand_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("right_id", "cand_id", "cand_name", "score")
    )


@_q(
    "inverted_index",
    """
    WITH td AS (
      SELECT DISTINCT u.term, doc_id
      FROM documents, LATERAL unnest(string_split(text, ' ')) AS u(term)
    )
    SELECT term, count(*) AS df, list(doc_id ORDER BY doc_id) AS postings
    FROM td GROUP BY term
    """,
)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-index build: term -> document frequency + sorted posting
    list. distinct (term, doc) pairs -> one hash aggregate per term; the
    shuffle carries (term, doc_id) pairs, never document bodies, and the
    posting array is assembled by the aggregate itself (collect_set ->
    sort), so the driver never touches data.

    100 TB story: this is the map-reduce indexing shape — partial
    (term, doc) dedup map-side, one shuffle keyed by term. Skewed terms
    (stopwords) produce giant postings; production layouts shard postings
    by (term, doc_id range) — here the fixture vocabulary is small, so
    plain per-term rows are the honest shape."""
    docs = _t(spark, sf_dir, "documents")
    td = docs.select(
        F.explode(F.split("text", " ")).alias("term"), "doc_id"
    ).distinct()
    return td.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sort_array(F.collect_set("doc_id")).alias("postings"),
    )


@_q(
    "partitioned_write_scan",
    """
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price, o_orderstatus
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def partitioned_write_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet interop (SURVEY §2.1 note): write orders
    partitioned by o_orderstatus (directory-per-value layout), read the
    tree back, filter one status. The filter value never scans the other
    partitions — Catalyst's PartitioningAwareFileIndex prunes directories
    before any IO (asserted in tests/test_plans.py). This is the layout
    the VintageTable deliberately does NOT use internally (zone maps +
    clustering instead), but 100 TB lakes are full of Hive-partitioned
    inputs, so the read AND write paths stay exercised."""
    import hashlib
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out_dir = f"{tempfile.gettempdir()}/sdlt_partitioned_orders_{tag}"
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("price"),
        "o_orderstatus",
    )
    o.write.partitionBy("o_orderstatus").mode("overwrite").parquet(out_dir)
    return (
        spark.read.parquet(out_dir)
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_custkey", "price", "o_orderstatus")
    )


@_q(
    "multi_grain_rollup",
    """
    SELECT CAST(year(ts) AS INTEGER) AS y, CAST(month(ts) AS INTEGER) AS m,
           count(*) AS n, round(sum(value), 2) AS total
    FROM events
    GROUP BY ROLLUP (1, 2)
    """,
)
def multi_grain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-grain rollup: one pass produces month, year,
    and grand-total aggregates via ROLLUP on the derived time hierarchy —
    Spark expands the grouping sets in a single Expand + hash aggregate
    (partial map-side), not one scan per grain. This is the batch half of
    the continuous-aggregate pattern (vintage_incremental_agg maintains
    the same rollup incrementally from CDC deltas)."""
    ev = _t(spark, sf_dir, "events").select(
        F.year("ts").cast("int").alias("y"), F.month("ts").cast("int").alias("m"),
        "value",
    )
    return ev.rollup("y", "m").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total")
    )


@_q(
    "bm25_topk",
    # Per-term scores are computed with IDENTICALLY parenthesized double
    # arithmetic on both engines (IEEE ops are deterministic given the same
    # expression tree), then summed in a FIXED order (term columns added
    # left-to-right, never a GROUP BY whose accumulation order could
    # differ). avgdl is exact (BIGINT sum / count). Ordering uses the
    # unrounded total with doc_id tiebreak.
    """
    WITH d AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS dl
      FROM documents
    ),
    stats AS (
      SELECT count(*) AS n_docs, sum(dl) * 1.0 / count(*) AS avgdl FROM d
    ),
    tf AS (
      SELECT doc_id, u.term, CAST(count(*) AS BIGINT) AS tf
      FROM documents, LATERAL unnest(string_split(text, ' ')) AS u(term)
      WHERE u.term IN ('join', 'filter', 'scan')
      GROUP BY doc_id, u.term
    ),
    idf AS (
      SELECT term, ln((((SELECT n_docs FROM stats) - count(*)) + 0.5)
                      / (count(*) + 0.5) + 1.0) AS idf
      FROM tf GROUP BY term
    ),
    scored AS (
      SELECT tf.doc_id, tf.term,
             idf.idf * (tf.tf * 2.5)
               / (tf.tf + 1.5 * (1.0 - 0.75 + 0.75 * d.dl / (SELECT avgdl FROM stats)))
               AS s
      FROM tf JOIN idf USING (term) JOIN d USING (doc_id)
    ),
    pivoted AS (
      SELECT doc_id,
             coalesce(sum(CASE WHEN term = 'join' THEN s END), 0.0)
             + coalesce(sum(CASE WHEN term = 'filter' THEN s END), 0.0)
             + coalesce(sum(CASE WHEN term = 'scan' THEN s END), 0.0) AS total
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, round(total, 4) AS bm25
    FROM pivoted ORDER BY total DESC, doc_id LIMIT 10
    """,
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval scoring on top of the inverted-index statistics: BM25
    (k1=1.5, b=0.75) for the fixed query {join, filter, scan}, top-10 docs.

    Plan shape: one token explode filtered to the query terms (predicate
    applied BEFORE the aggregate, so the shuffle carries only query-term
    hits), a per-term doc-frequency aggregate (|terms| rows — broadcast),
    the corpus stats as a 1-row broadcast, and a TakeOrderedAndProject for
    the top-k — never a full sort. At 100 TB the tf table is the only
    corpus-sized intermediate, and it's (doc_id, term, count) triples for
    query terms only."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.select("doc_id", F.size(F.split("text", " ")).alias("dl"))
    stats = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") * 1.0 / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term").isin("join", "filter", "scan"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(stats.select("n_docs")))
        .select(
            "term",
            F.log(((F.col("n_docs") - F.col("df")) + 0.5) / (F.col("df") + 0.5) + 1.0).alias("idf"),
        )
    )
    scored = (
        tf.join(F.broadcast(idf), "term")
        .join(d, "doc_id")
        .crossJoin(F.broadcast(stats.select("avgdl")))
        .select(
            "doc_id",
            "term",
            (
                F.col("idf") * (F.col("tf") * 2.5)
                / (F.col("tf") + 1.5 * (1.0 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl")))
            ).alias("s"),
        )
    )
    pivoted = scored.groupBy("doc_id").agg(
        (
            F.coalesce(F.sum(F.when(F.col("term") == "join", F.col("s"))), F.lit(0.0))
            + F.coalesce(F.sum(F.when(F.col("term") == "filter", F.col("s"))), F.lit(0.0))
            + F.coalesce(F.sum(F.when(F.col("term") == "scan", F.col("s"))), F.lit(0.0))
        ).alias("total")
    )
    return (
        pivoted.orderBy(F.col("total").desc(), "doc_id")
        .limit(10)
        .select("doc_id", F.round("total", 4).alias("bm25"))
    )


@_q(
    "window_running_distinct",
    # Running COUNT(DISTINCT) is not a legal window aggregate in either
    # engine; the standard rewrite marks each user's first occurrence per
    # event_type and cumulatively sums the markers. (ts, event_id) makes
    # the ordering total, so every intermediate row is deterministic.
    """
    WITH marked AS (
      SELECT event_id, event_type, ts,
             CASE WHEN row_number() OVER (PARTITION BY event_type, user_id
                                          ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS first_seen
      FROM events
    )
    SELECT event_id, event_type,
           CAST(sum(first_seen) OVER (PARTITION BY event_type ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS users_so_far
    FROM marked
    """,
)
def window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-extension: running distinct-user count per event type — the
    audience-growth curve. Two window passes: first-occurrence markers
    (partitioned by (type, user) — high cardinality, well-spread), then a
    cumulative sum partitioned by type only. The second pass serializes per
    type within a task; at 100 TB the standard mitigation is bucketing time
    into a pre-aggregated (type, hour, new_users) table and cumsum-ing the
    tiny rollup instead — that variant is multi_grain_rollup + this same
    window over far fewer rows."""
    ev = _t(spark, sf_dir, "events")
    w1 = Window.partitionBy("event_type", "user_id").orderBy("ts", "event_id")
    w2 = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = ev.select(
        "event_id",
        "event_type",
        "ts",
        F.when(F.row_number().over(w1) == 1, 1).otherwise(0).alias("first_seen"),
    )
    return marked.select(
        "event_id",
        "event_type",
        F.sum("first_seen").over(w2).cast("bigint").alias("users_so_far"),
    )


@_q(
    "dpp_join",
    """
    WITH dim AS (
      SELECT DISTINCT o_orderstatus AS st, 'status-' || o_orderstatus AS label
      FROM orders
    )
    SELECT o.o_orderstatus, d.label, count(*) AS n
    FROM orders o JOIN dim d ON o.o_orderstatus = d.st
    WHERE d.label = 'status-F'
    GROUP BY o.o_orderstatus, d.label
    """,
)
def dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: a Hive-partitioned fact joined to a
    filtered dim on the partition column. Catalyst injects the dim's
    surviving keys as a runtime PartitionFilter subquery on the fact scan
    (plan-asserted in tests/test_plans.py), so only matching partition
    DIRECTORIES are listed and read — the join-driven cousin of static
    partition pruning, and the feature that makes star joins over
    date-partitioned 100 TB facts read one day instead of all of them.
    Both sides are written as parquet here (DPP requires file-source scans
    on fact AND a selective predicate on the dim)."""
    import hashlib
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    fact_dir = f"{tempfile.gettempdir()}/sdlt_dpp_fact_{tag}"
    dim_dir = f"{tempfile.gettempdir()}/sdlt_dpp_dim_{tag}"
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    o.write.partitionBy("o_orderstatus").mode("overwrite").parquet(fact_dir)
    (
        o.select("o_orderstatus").distinct()
        .select(
            F.col("o_orderstatus").alias("st"),
            F.concat(F.lit("status-"), "o_orderstatus").alias("label"),
        )
        .write.mode("overwrite").parquet(dim_dir)
    )
    fact = spark.read.parquet(fact_dir)
    dim = spark.read.parquet(dim_dir).filter(F.col("label") == "status-F")
    return (
        fact.join(dim, fact.o_orderstatus == dim.st)
        .groupBy("o_orderstatus", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_q(
    "mad_robust_stats",
    # Exact medians in both engines (full-sort + interpolate for even
    # counts: (a+b)/2 of the same doubles). The deviation pass re-reads the
    # fact joined to the 5-row per-type median table.
    """
    WITH m AS (
      SELECT event_type, median(value) AS med FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, m.med, abs(e.value - m.med) AS d
      FROM events e JOIN m USING (event_type)
    )
    SELECT event_type, round(min(med), 6) AS med, round(median(d), 6) AS mad
    FROM dev GROUP BY event_type
    """,
)
def mad_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier scale per group: median + median-absolute-deviation
    (the robust sigma ~ 1.4826*MAD). Two exact-median aggregations with the
    5-row median table broadcast back onto the fact — the robust cousin of
    stats_agg's mean/stddev, used to score outliers without the mean's
    sensitivity to the outliers themselves.

    Scale note: exact median sorts within groups; at 100 TB swap
    F.median for percentile_approx (t-digest-style sketch, one pass, no
    sort) — the approx path is declared separately (approx_percentile)."""
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    m = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = ev.join(F.broadcast(m), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("d")
    )
    return dev.groupBy("event_type").agg(
        F.round(F.min("med"), 6).alias("med"),
        F.round(F.median("d"), 6).alias("mad"),
    )


@_q(
    "skew_report",
    """
    WITH c AS (
      SELECT user_id, count(*) AS n FROM events GROUP BY user_id
    ),
    s AS (SELECT sum(n) AS total, avg(n) AS avg_n FROM c)
    SELECT user_id, n,
           round(n / (SELECT total FROM s), 6) AS share,
           round(n / (SELECT avg_n FROM s), 4) AS skew
    FROM c ORDER BY n DESC, user_id LIMIT 20
    """,
)
def skew_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops diagnostics (operators/skew.py::skew_report): the top-20
    heaviest join keys with row count, table share, and skew factor
    (count / mean-per-key) — the numbers that decide between broadcast,
    AQE skew split, and salting before a 100 TB join. One (key, count)
    partial-agg shuffle + a broadcast 1-row stats frame +
    TakeOrderedAndProject."""
    from sdlt_spark.operators.skew import skew_report

    return skew_report(_t(spark, sf_dir, "events"), "user_id", top_n=20)


@_q("bpe_merges", None)  # iterative (each merge reshapes the pair counts)
def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary induction: the first 5 BPE-style merges over the document
    corpus (operators/text.py::bpe_merge_table). Rows-only by nature —
    every iteration's pair distribution depends on the previous merge — but
    fully deterministic (count-desc, lexicographic tiebreak), and the unit
    test pins exact merges on a hand-computed corpus."""
    return _text.bpe_merge_table(
        _t(spark, sf_dir, "documents"), "text", num_merges=5
    )


@_q("bpe_encode", None)  # induced vocab is iterative; encode inherits that
def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY: induce 5 merges on the corpus, then encode every
    document with them (operators/text.py::bpe_apply — one Arrow-batched
    map-only pass replaying the merges in rank order). Deterministic
    end-to-end; the property test pins losslessness (rejoined bpe_tokens
    == original text) and replay-equality on a hand corpus. Scalar-shaped
    output (token counts before/after) for the driver's canonicalizer."""
    docs = _t(spark, sf_dir, "documents")
    merges = _text.bpe_merge_table(docs, "text", num_merges=5)
    return _text.bpe_apply(docs, merges).select(
        "doc_id", "n_tokens", "n_bpe_tokens"
    )


@_q("xml_scan", "SELECT doc_id, text, lang, source, n_chars FROM documents")
def xml_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 extension: XML sink + source roundtrip (Spark 4 ships the former
    spark-xml datasource natively; the SDMX world's native interchange
    format is SDMX-ML, so an XML path belongs in this engine's surface).
    Explicit schema on read — never inference, which costs an extra full
    scan. Lossless roundtrip => identity oracle."""
    import tempfile

    from sdlt_spark import sources as _src

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    stage = tempfile.mkdtemp(prefix="sdlt_xml_scan_")
    _src.write_xml(docs, stage, row_tag="doc")
    return _src.read_xml(spark, stage, docs.schema, row_tag="doc").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


@_q(
    "text_scan",
    """
    SELECT CAST(split_part(line, chr(9), 1) AS BIGINT) AS doc_id,
           split_part(line, chr(9), 2) AS text
    FROM (
      SELECT doc_id || chr(9) || text AS line FROM documents
    )
    """,
)
def text_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 extension: line-oriented text sink + source (spark.read.text — the
    rawest corpus interchange). Documents stage as one `doc_id\\ttext` line
    each (fixture texts contain no tabs/newlines); the read splits on the
    first tab. The oracle applies the same encode/decode to the source
    table, so any lossy step would hash-mismatch."""
    import tempfile

    from sdlt_spark import sources as _src

    docs = _t(spark, sf_dir, "documents")
    lines = docs.select(
        F.concat(F.col("doc_id").cast("string"), F.lit("\t"), F.col("text")).alias("value")
    )
    stage = tempfile.mkdtemp(prefix="sdlt_text_scan_")
    _src.write_text_lines(lines, stage)
    back = _src.read_text_lines(spark, stage)
    tab = F.instr("value", "\t")
    return back.select(
        F.substring("value", F.lit(1), tab - 1).cast("bigint").alias("doc_id"),
        F.substring("value", tab + 1, F.length("value") - tab).alias("text"),
    )


@_q(
    "udtf_sentences",
    """
    WITH p AS (SELECT doc_id, string_split(text, '. ') AS parts FROM documents)
    SELECT doc_id, CAST(u.i - 1 AS INTEGER) AS idx, parts[u.i] AS sentence
    FROM p, LATERAL unnest(range(1, len(parts) + 1)) AS u(i)
    """,
)
def udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDF-surface completeness: a Python UDTF (PySpark 4 table function)
    expanding each document into (idx, sentence) rows via SQL LATERAL.

    Scale note: a UDTF runs row-at-a-time Python — the right tool when the
    expansion logic genuinely needs Python (stateful parsers, external
    libraries). THIS particular split is expressible as
    posexplode(split(...)) (JVM, codegen) and the oracle proves the
    equivalence; the entry exists to keep the UDTF path tested, not to
    recommend it for string splitting."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="idx: int, sentence: string")
    class _SplitSentences:
        def eval(self, doc_id, text: str):  # noqa: ANN001 - Spark infers
            if text is None:
                return
            for i, s in enumerate(text.split(". ")):
                yield i, s

    spark.udtf.register("sdlt_split_sentences", _SplitSentences)
    _t(spark, sf_dir, "documents").createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        "SELECT doc_id, s.idx, s.sentence "
        "FROM __udtf_docs, LATERAL sdlt_split_sentences(doc_id, text) s"
    )


@_q(
    "lateral_topk",
    # DuckDB supports the same correlated-LATERAL-LIMIT syntax, so the
    # oracle is syntactically the twin of the Spark SQL.
    """
    SELECT c.c_custkey, t.o_orderkey, round(t.o_totalprice, 2) AS price
    FROM customer c,
         LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
    """,
)
def lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-extension: correlated LATERAL subquery with ORDER BY + LIMIT (the
    SQL spelling of best-record-per-key). Catalyst decorrelates this into
    a window/aggregate over one join — never a per-row re-execution — so
    the plan is the same shuffle-once shape as topk_per_group; the entry
    keeps the decorrelation path itself regression-tested."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("__lat_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("__lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, round(t.o_totalprice, 2) AS price
        FROM __lat_customer c,
             LATERAL (SELECT o_orderkey, o_totalprice FROM __lat_orders o
                      WHERE o.o_custkey = c.c_custkey
                      ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
        """
    )


@_q("hll_distinct_merge", None)  # DataSketches HLL has no DuckDB twin
def hll_distinct_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 scale path: per-partition DataSketches HLL sketches UNIONED into
    a global distinct estimate — the mergeable-sketch pattern that lets a
    100 TB distinct-count run as one pass of bounded-size partial states
    (each sketch is KBs regardless of input rows), and lets per-day /
    per-source sketches be stored and re-merged later without rescanning.
    Deterministic for fixed input (the sketch is order-insensitive);
    accuracy vs exact is pinned in tests/test_properties.py."""
    ev = _t(spark, sf_dir, "events")
    per_src = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    per_rows = per_src.select(
        "event_type", F.hll_sketch_estimate("sk").alias("distinct_users")
    )
    total = per_src.agg(F.hll_union_agg("sk").alias("sk")).select(
        F.lit("__all__").alias("event_type"),
        F.hll_sketch_estimate("sk").alias("distinct_users"),
    )
    return per_rows.unionByName(total)


# ---------------------------------------------------------------------------
# Round-7: perceptual image hashing (operators/multimodal.image_dhash)
# ---------------------------------------------------------------------------
# Fixture pixels are a closed-form function of doc_id: pixel (r, c, ch) of a
# 9x8 BMP is 8 * bit_{(c+r) % 9}(doc_id) + ch, so grayscale(r, c) =
# 8 * bit + 1 and every dHash comparison bit reduces to the doc_id bit
# transition t_j = [bit_{(j+1)%9} = 1 AND bit_j = 0] at j = (c+r) % 9 —
# SQL-computable exactly. A hasher that mixed up grid orientation, bit
# order within a row byte, or row-to-half packing hash-mismatches.


def _dhash_t_sql(j: int) -> str:
    jn = (j + 1) % 9
    return (
        f"(CASE WHEN ((doc_id >> {jn}) & 1) = 1 "
        f"AND ((doc_id >> {j}) & 1) = 0 THEN 1 ELSE 0 END)"
    )


def _dhash_rowbyte_sql(r: int) -> str:
    return " + ".join(
        f"({_dhash_t_sql((c + r) % 9)} * {1 << (7 - c)})" for c in range(8)
    )


# CAST each row byte to BIGINT before the shift-multiply: DuckDB folds the
# CASE sums as INT32 and 128 * 2^24 overflows otherwise
_DHASH_HI_SQL = " + ".join(
    f"(CAST(({_dhash_rowbyte_sql(r)}) AS BIGINT) * {1 << (8 * (3 - r))})"
    for r in range(4)
)
_DHASH_LO_SQL = " + ".join(
    f"(CAST(({_dhash_rowbyte_sql(r)}) AS BIGINT) * {1 << (8 * (7 - r))})"
    for r in range(4, 8)
)


def _dhash_fixture_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """9x8 BMP per document with the closed-form pixel formula above."""
    import numpy as np

    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from sdlt_spark.operators.dedup import _scan_underparallel

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    # one small parquet file = one task; the Python BMP encode (and the
    # decode+dhash downstream) would serialize on a single core
    if _scan_underparallel(docs):
        docs = docs.repartition(spark.sparkContext.defaultParallelism)

    def _encode(batches):
        import pandas as pd

        from sdlt_spark.operators.imagecodec import encode_bmp

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                r, c, ch = np.meshgrid(
                    np.arange(8), np.arange(9), np.arange(3), indexing="ij"
                )
                bit = (did >> ((c + r) % 9)) & 1
                payloads.append(encode_bmp((8 * bit + ch).astype(np.uint8)))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    return docs.mapInPandas(
        _encode,
        StructType(
            [
                StructField("media_id", LongType(), False),
                StructField("payload", BinaryType(), True),
            ]
        ),
    )


@_q(
    "image_dhash",
    f"SELECT doc_id AS media_id, CAST({_DHASH_HI_SQL} AS BIGINT) AS dhash_hi, "
    f"CAST({_DHASH_LO_SQL} AS BIGINT) AS dhash_lo FROM documents",
)
def image_dhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 extension: perceptual difference hash over REAL decoded BMPs —
    grayscale, 9x8 block-mean grid, brighter-to-the-right bits, packed as
    two 32-bit halves. One Arrow-batched map stage; 16 bytes of state per
    image regardless of payload size."""
    media = _dhash_fixture_media(spark, sf_dir)
    return _mm.image_dhash(media).select("media_id", "dhash_hi", "dhash_lo")


def _dhash_grouped_sql(band_width: int, max_hamming: int) -> str:
    """Grouped dhash near-dup oracle: identical-hash groups -> min-id
    representatives + identity edges, band-OR candidate enumeration over
    the representatives (pigeonhole recall: max_hamming < num_bands *
    (radius+1), and the relational OR-join enumerates band EQUALITY,
    which is full-recall whenever max_hamming < 64/band_width bands...
    byte bands for hamming <= 7, 16-bit bands for hamming <= 3), popcount
    verify. The Spark side's ball-probe candidate scheme is different but
    its VERIFIED output — all rep pairs within max_hamming plus identity
    edges — is scheme-independent, so this equality-enumeration oracle
    checks it exactly."""
    assert max_hamming < 64 // band_width, "equality bands lose recall here"
    mask = (1 << band_width) - 1
    conds = " OR ".join(
        f"((a.{half} >> {s}) & {mask}) = ((b.{half} >> {s}) & {mask})"
        if s
        else f"(a.{half} & {mask}) = (b.{half} & {mask})"
        for half in ("hi", "lo")
        for s in range(32 - band_width, -1, -band_width)
    )
    return f"""
    WITH h AS (
      SELECT doc_id, CAST({_DHASH_HI_SQL} AS BIGINT) AS hi,
             CAST({_DHASH_LO_SQL} AS BIGINT) AS lo
      FROM documents
    ),
    g AS (SELECT hi, lo, min(doc_id) AS rep_id FROM h GROUP BY hi, lo),
    ident AS (
      SELECT g.rep_id AS id_a, h.doc_id AS id_b, CAST(0 AS INT) AS hamming
      FROM h JOIN g ON h.hi = g.hi AND h.lo = g.lo
      WHERE h.doc_id <> g.rep_id
    ),
    r AS (SELECT rep_id AS doc_id, hi, lo FROM g),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.hi AS hi_a, a.lo AS lo_a, b.hi AS hi_b, b.lo AS lo_b
      FROM r a JOIN r b ON a.doc_id < b.doc_id AND ({conds})
    ),
    near AS (
      SELECT id_a, id_b,
             CAST(bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) AS INT)
               AS hamming
      FROM cand
      WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b))
              <= {max_hamming}
    )
    SELECT * FROM near UNION ALL SELECT * FROM ident
    """


# classic threshold (hamming <= 7): byte bands give the oracle full
# equality-enumeration recall; the Spark side probes 16-bit bands at
# radius 1 — same verified output
_DHASH_NEARDUP_SQL = _dhash_grouped_sql(8, 7)


@_q("image_neardup_dhash", _DHASH_NEARDUP_SQL)
def image_neardup_dhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate image edges by dHash hamming distance (<= 7).
    Round 11: identical-hash groups collapse to min-id rep edges first,
    then 16-bit bands probed at per-band radius 1 (ball enumeration)
    produce candidates over distinct hashes only, verified with codegen'd
    popcount — full recall, never all-pairs, and neither sf10 wall shape
    is reachable. The oracle enumerates candidates relationally with
    byte-band equality (also full recall at <= 7); verified output is
    candidate-scheme-independent, so both sides emit identical edges. On
    the fixture, hamming-0 groups AND hamming-7 pairs both occur, so the
    verify filter is genuinely exercised."""
    media = _dhash_fixture_media(spark, sf_dir)
    return _mm.dhash_neardup(media, max_hamming=7)


# dHash index parquet per sf_dir — built once per process, reused by every
# indexed entry (and by repeated driver invocations of the same entry):
# the round-9 verdict flagged a fresh mkdtemp per invocation as an orphan
# temp-dir leak in long-lived sessions
_dhash_index_dirs: dict[str, str] = {}


def _dhash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, dhash_hi, dhash_lo) decoded ONCE per corpus and stored —
    the dhash-at-ingest amortization path."""
    import tempfile

    idx = _dhash_index_dirs.get(sf_dir)
    if idx is None:
        idx = tempfile.mkdtemp(prefix="sdlt_dhash_idx_") + "/dhash"
        (
            _mm.image_dhash(_dhash_fixture_media(spark, sf_dir))
            .filter(F.col("decode_error").isNull())
            .select("media_id", "dhash_hi", "dhash_lo")
            .write.mode("errorifexists")
            .parquet(idx)
        )
        _dhash_index_dirs[sf_dir] = idx
    return spark.read.parquet(idx)


@_q("image_neardup_dhash_indexed", _DHASH_NEARDUP_SQL)
def image_neardup_dhash_indexed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dHash-AT-INGEST (round-9 verdict item 4): the per-image Python
    decode — the heaviest per-byte CPU in the media family — runs ONCE
    and materializes (media_id, dhash_hi, dhash_lo) as a stored 16-byte
    index column; near-dup discovery then reads the index table and runs
    entirely JVM-side (banding shuffle on compact keys, codegen'd
    popcount verify), never touching a payload byte again. At 100 TB
    this amortizes the decode to once per corpus instead of once per
    sweep. Same verified edges as image_neardup_dhash, same oracle.
    Round 11: hamming <= 7 no longer forces the dense 8-byte-band shape
    (256 buckets/band, superlinear past ~10k images) — the default path
    probes 16-bit bands at radius 1 with exact recall."""
    return _mm.dhash_neardup_indexed(_dhash_index(spark, sf_dir), max_hamming=7)


_DHASH_NEARDUP_WIDE_SQL = _dhash_grouped_sql(16, 3)


@_q("image_neardup_dhash_wide", _DHASH_NEARDUP_WIDE_SQL)
def image_neardup_dhash_wide_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB dhash setting, correctness-pinned (round-9 verdict next
    item 2): hamming <= 3 over FOUR 16-bit bands — 65,536 buckets per
    band keeps expected candidates ~4n²/65536 vs the 8-byte-band shape's
    ~n²/32, the difference between linear-ish and quadratic past ~10k
    images (SCALE.md round-9 measured the dense shape at 13.5x wall for
    10x docs). Round 11 additionally folded identical-hash grouping into
    this default path (the other sf10 wall: 76 distinct hashes / 500k
    images made even wide bands quadratic), so this entry now equals
    image_neardup_dhash_grouped — both pin the one wall-free composition
    under the names users reach for. The oracle enumerates the grouped
    16-bit-band candidate set relationally and verifies with the same
    popcount; on the fixture the surviving near edges are hamming-0 ones
    (the pixel formula's minimum nonzero pair distance is ~7), so the
    verify filter is exercised as a REJECTOR: banded candidates at
    hamming 7+ must be dropped identically on both sides."""
    return _mm.dhash_neardup_indexed(_dhash_index(spark, sf_dir), max_hamming=3)


_DHASH_NEARDUP_GROUPED_SQL = _dhash_grouped_sql(16, 3)


@_q("image_neardup_dhash_grouped", _DHASH_NEARDUP_GROUPED_SQL)
def image_neardup_dhash_grouped_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-identical-first image near-dup (round-10 scale finding): the
    sf10 replica's 500k images collapse to 76 DISTINCT dhash values, a
    mass-duplicate regime where banding alone is quadratic regardless of
    band width (measured 5 s -> 1,164 s for 10x images on the wide-band
    sweep). This entry pins the scale-correct composition — identical
    hashes collapse to min-id representatives (linear hamming-0 edges),
    banding + popcount verify run over DISTINCT hashes only — whose edge
    set closes to the same clusters. Oracle builds the identical groups,
    representative band-join, and identity edges relationally."""
    return _mm.dhash_neardup_grouped(_dhash_index(spark, sf_dir), max_hamming=3)


# ---------------------------------------------------------------------------
# Round-7: Delta Row Tracking (PROTOCOL.md "Row Tracking")
# ---------------------------------------------------------------------------


@_q(
    "delta_row_tracking",
    # v0 = even orderkeys sorted (ids 0..n_even-1), v1 = odd sorted
    # (ids n_even..): fresh row id = baseRowId + position in file, and the
    # file order is pinned by the sortWithinPartitions below — so the ids
    # and the per-commit default row commit versions fold analytically
    """
    WITH e AS (
      SELECT o_orderkey,
             row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    o AS (
      SELECT o_orderkey,
             row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
      FROM orders WHERE o_orderkey % 2 = 1
    ),
    n AS (SELECT count(*) AS n_even FROM e)
    SELECT o_orderkey, CAST(rid AS BIGINT) AS row_id,
           CAST(0 AS BIGINT) AS row_commit_version FROM e
    UNION ALL
    SELECT o_orderkey, CAST(n_even + rid AS BIGINT) AS row_id,
           CAST(1 AS BIGINT) AS row_commit_version FROM o, n
    """,
)
def delta_row_tracking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta Row Tracking end-to-end: two commits append disjoint fresh
    row-id ranges (baseRowId on each add, rowIdHighWaterMark in the
    delta.rowTracking domainMetadata, writer protocol v7 naming
    rowTracking+domainMetadata), then ``read_with_row_ids`` surfaces
    row_id = baseRowId + ``_metadata.row_index`` via ONE broadcast
    (file -> base) map join and row_commit_version from each add's
    defaultRowCommitVersion. The oracle recomputes both analytically from
    the pinned file sort order."""
    import os as _os
    import tempfile

    from sdlt_spark.store.delta_read import DeltaTableReader
    from sdlt_spark.store.delta_write import (
        DeltaLogWriter,
        allocate_base_row_ids,
        row_tracking_protocol,
    )

    root = tempfile.mkdtemp(prefix="sdlt_delta_rowtrack_") + "/orders"
    proj = _t(spark, sf_dir, "orders").select("o_orderkey")

    def _write(sub: str, frame: DataFrame) -> list[str]:
        abs_dir = _os.path.join(root, sub)
        frame.repartition(1).sortWithinPartitions("o_orderkey").write.mode(
            "errorifexists"
        ).parquet(abs_dir)
        return [
            f"{sub}/{f}"
            for f in sorted(_os.listdir(abs_dir))
            if f.endswith(".parquet")
        ]

    evens = _write("c0", proj.filter(F.col("o_orderkey") % 2 == 0))
    odds = _write("c1", proj.filter(F.col("o_orderkey") % 2 == 1))
    w = DeltaLogWriter(root)
    base0, hwm0 = allocate_base_row_ids(root, evens, prior_hwm=-1)
    w.commit(
        adds=[(f, {}) for f in evens],
        schema_json=proj.schema.json(),
        protocol=row_tracking_protocol(),
        base_row_ids=base0,
        row_id_high_water_mark=hwm0,
    )
    reader = DeltaTableReader(spark, root)
    base1, hwm1 = allocate_base_row_ids(root, odds)
    assert base1[odds[0]] == hwm0 + 1, (base1, hwm0)
    w.commit(
        adds=[(f, {}) for f in odds],
        base_row_ids=base1,
        row_id_high_water_mark=hwm1,
    )
    return reader.read_with_row_ids().select(
        "o_orderkey", "row_id", "row_commit_version"
    )


# ---------------------------------------------------------------------------
# Round-7: mutation-written Change Data Feed (real cdc actions)
# ---------------------------------------------------------------------------


@_q(
    "delta_cdf_mutations",
    # v1 UPDATE doubles o_totalprice of 'F' rows (pre+post images), v2
    # DELETE drops orderkeys % 7 = 0 from the post-update state — all
    # closed-form over the orders projection
    """
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice
      FROM orders
    ),
    state1 AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2
                  ELSE o_totalprice END AS o_totalprice
      FROM base
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           'update_preimage' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
    FROM base WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice * 2,
           'update_postimage', 1
    FROM base WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice, 'delete', 2
    FROM state1 WHERE o_orderkey % 7 = 0
    """,
)
def delta_cdf_mutations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-side Change Data Feed: on a table with
    ``delta.enableChangeDataFeed=true``, UPDATE and DELETE commits write
    ``_change_data/`` parquet named in ``cdc`` actions — so the CDF
    reader surfaces the UPDATE as update_preimage/update_postimage pairs
    (not the delete+insert a derivation-based feed degrades to) and the
    DELETE as exact delete rows. The reader path is the SAME
    walk_changes/_cdc_frames machinery stock delta-spark CDF files go
    through."""
    import tempfile

    from sdlt_spark.store.delta_mutate import (
        delete_delta_export,
        update_delta_export,
    )
    from sdlt_spark.store.delta_read import DeltaTableReader
    from sdlt_spark.store.delta_write import DeltaLogWriter

    root = tempfile.mkdtemp(prefix="sdlt_delta_cdfmut_") + "/orders"
    proj = _orders_proj(spark, sf_dir)
    import os as _os

    abs_dir = _os.path.join(root, "c0")
    proj.coalesce(1).write.mode("errorifexists").parquet(abs_dir)
    adds = [
        (f"c0/{f}", {})
        for f in sorted(_os.listdir(abs_dir))
        if f.endswith(".parquet")
    ]
    DeltaLogWriter(root).commit(
        adds=adds,
        schema_json=proj.schema.json(),
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    v1 = update_delta_export(
        root, spark, "o_orderstatus = 'F'",
        {"o_totalprice": "o_totalprice * 2"},
    )
    v2 = delete_delta_export(root, spark, "o_orderkey % 7 = 0")
    assert (v1, v2) == (1, 2)
    return DeltaTableReader(spark, root).table_changes(1, 2)


# ---------------------------------------------------------------------------
# Round-7: HTML -> text extraction (operators/text.html_to_text)
# ---------------------------------------------------------------------------

_HTML_PRE = (
    '<html><head><style>p{color:red}</style>'
    '<script>var a="</p>";</script></head><body><h1>Doc '
)
_HTML_MID = '</h1><p>'
_HTML_POST = '</p><a href="/x">link</a> &amp; &lt;raw&gt;</body></html>'


def _html_oracle() -> str:
    from sdlt_spark.operators.text import html_to_text_oracle_sql

    pre = _HTML_PRE.replace("'", "''")
    mid = _HTML_MID.replace("'", "''")
    post = _HTML_POST.replace("'", "''")
    html = f"('{pre}' || doc_id || '{mid}' || text || '{post}')"
    text_sql, links_sql = html_to_text_oracle_sql(html)
    return (
        f"SELECT doc_id, {text_sql} AS text, "
        f"CAST({links_sql} AS INT) AS n_links FROM documents"
    )


@_q("html_extract_text", _html_oracle())
def html_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-crawl boilerplate removal: wrap each document in a synthetic
    page (style + script subtrees — the script BODY contains a '</p>'
    literal, so a greedy or tag-only stripper corrupts the output — plus
    an anchor and entities), then extract training text with
    operators/text.html_to_text. Pure codegen'd regexp expressions —
    map-only, scan-speed at any corpus size; the DuckDB oracle reruns the
    SAME patterns under RE2."""
    from sdlt_spark.operators.text import html_to_text

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit(_HTML_PRE),
            F.col("doc_id").cast("string"),
            F.lit(_HTML_MID),
            F.col("text"),
            F.lit(_HTML_POST),
        ).alias("html"),
    )
    return html_to_text(pages, "html", "text").select(
        "doc_id", "text", "n_links"
    )


@_q(
    "multimodal_vad",
    # active spans are a closed-form function of doc parity (see builder):
    # even docs -> windows {1} and {4,5}; odd -> {1,2} and {5}; the
    # amplitude (= segment peak) is 1000 + doc_id % 7
    """
    WITH amp AS (SELECT doc_id, CAST(1000 + doc_id % 7 AS INT) AS a
                 FROM documents)
    SELECT doc_id AS media_id, 0 AS seg_idx, 1 AS start_window,
           1 AS end_window, 1 AS n_windows, a AS peak
    FROM amp WHERE doc_id % 2 = 0
    UNION ALL
    SELECT doc_id, 1, 4, 5, 2, a FROM amp WHERE doc_id % 2 = 0
    UNION ALL
    SELECT doc_id, 0, 1, 2, 2, a FROM amp WHERE doc_id % 2 = 1
    UNION ALL
    SELECT doc_id, 1, 5, 5, 1, a FROM amp WHERE doc_id % 2 = 1
    """,
)
def multimodal_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 extension, REAL energy-threshold VAD: build a 64-frame stereo
    WAV per document with silence everywhere except two known spans
    (even docs: frames [8,16) and [32,48); odd: [8,24) and [40,48)),
    decode it honestly and segment with operators/multimodal.vad_segments
    (window 8, threshold 10). A segmenter that mis-merged adjacent
    windows, mis-indexed the trailing window, or measured energy on one
    channel only hash-mismatches the analytic oracle."""
    import numpy as np

    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def _encode(batches):
        import pandas as pd

        from sdlt_spark.operators.audiocodec import encode_wav

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                amp = 1000 + did % 7
                i = np.arange(64)
                if did % 2 == 0:
                    act = ((i >= 8) & (i < 16)) | ((i >= 32) & (i < 48))
                else:
                    act = ((i >= 8) & (i < 24)) | ((i >= 40) & (i < 48))
                mono = np.where(act, amp, 0)
                payloads.append(
                    encode_wav(np.stack([mono, -mono], axis=1), 8000)
                )
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    media = docs.mapInPandas(
        _encode,
        StructType(
            [
                StructField("media_id", LongType(), False),
                StructField("payload", BinaryType(), True),
            ]
        ),
    )
    return _mm.vad_segments(media, frame_window=8, threshold=10.0).select(
        "media_id",
        F.col("seg_idx").cast("int").alias("seg_idx"),
        "start_window",
        "end_window",
        "n_windows",
        "peak",
    )


@_q(
    "dedup_lines",
    # fixture page = nav \n text \n nav \n footer \n footer: with text
    # single-line and distinct from the literals, the dedup is closed-form
    """
    SELECT doc_id,
           'NAV MENU' || chr(10) || text || chr(10) || 'footer (c) 2026'
             AS deduped,
           CAST(5 AS INT) AS n_lines, CAST(3 AS INT) AS n_unique
    FROM documents
    """,
)
def dedup_lines_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document boilerplate-line removal: wrap each document in a
    synthetic page whose nav and footer lines REPEAT, dedup with
    operators/text.dedup_lines (order-preserving array_distinct — first
    occurrence wins), and emit the cleaned text + line counts. Map-only
    codegen'd array expressions; the oracle reconstructs the cleaned page
    analytically, so a dedup that reordered or dropped the wrong
    occurrence hash-mismatches."""
    from sdlt_spark.operators.text import dedup_lines

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("NAV MENU"),
            F.col("text"),
            F.lit("NAV MENU"),
            F.lit("footer (c) 2026"),
            F.lit("footer (c) 2026"),
        ).alias("text"),
    )
    return dedup_lines(pages).select("doc_id", "deduped", "n_lines", "n_unique")


# ---------------------------------------------------------------------------
# Round-7: link-graph PageRank (operators/graph.py)
# ---------------------------------------------------------------------------


def _pagerank_oracle(iterations: int = 3) -> str:
    # integer fixed-point PageRank unrolled: every step is exact BIGINT
    # arithmetic (contributions integer-divided BEFORE the sum, damping
    # multiply-then-div AFTER), so the oracle is hash-exact regardless of
    # shuffle/aggregation order in either engine
    parts = [
        "WITH n AS (SELECT count(*) AS cnt FROM documents),",
        "e AS (SELECT doc_id AS src, (doc_id * 7 + u.i) % cnt AS dst",
        "      FROM documents, n, unnest([1, 2, 3]) AS u(i)),",
        "r0 AS (SELECT doc_id AS node, CAST(1000000 AS BIGINT) AS rank",
        "       FROM documents)",
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f", r{k} AS (SELECT d.doc_id AS node, "
            f"CAST(150000 + (85 * coalesce(s.s, 0)) // 100 AS BIGINT) AS rank "
            f"FROM documents d LEFT JOIN ("
            f"SELECT e.dst AS node, sum(r.rank // 3) AS s "
            f"FROM e JOIN r{k - 1} r ON r.node = e.src GROUP BY e.dst"
            f") s ON s.node = d.doc_id)"
        )
    parts.append(f"SELECT node, rank FROM r{iterations}")
    return "\n".join(parts)


@_q("graph_pagerank", _pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-based document ranking (the crawl-curation seed-quality
    signal): 3 PageRank iterations over a synthetic 3-regular link graph
    (doc u links to (7u+i) mod N, i=1..3). Integer fixed-point arithmetic
    makes the iterative result EXACTLY reproducible — float PageRank
    would hash-differ across engines through per-group sum reordering.
    Per iteration: one edge-vector equi-join + one partial-agg groupBy —
    O(edges) shuffled, nothing on the driver beyond the node count."""
    from sdlt_spark.operators.graph import pagerank

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    edges = docs.select(
        F.col("doc_id").alias("src"),
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("__i"),
    ).select("src", ((F.col("src") * 7 + F.col("__i")) % n).alias("dst"))
    return pagerank(edges, iterations=3)


@_q("compression_ratio", None)
def compression_ratio_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb/Gopher-class redundancy filter: per-document deflate
    ratio (repetitive boilerplate compresses far below natural prose).
    Arrow-batched UDF, no shuffle; rows-only (DuckDB has no zlib) —
    regression-guarded by tests/test_text.py::
    test_compression_ratio_separates_repetitive_text."""
    from sdlt_spark.operators.text import compression_ratio

    return compression_ratio(_t(spark, sf_dir, "documents"))
