"""[EXT] relational query registrations (SURVEY.md §2.3 E1-E16).

Every query here has exact semantics → every one carries a DuckDB oracle.
Conventions for cross-engine hash parity:

- double aggregates are rounded identically on both sides (summation order
  differs between engines; per-row arithmetic is IEEE-identical and left
  unrounded);
- every LIMIT sits under a TOTAL order (unique tiebreaker column) —
  otherwise the selected set is nondeterministic under ties;
- ``floor(epoch(ts))`` in DuckDB mirrors Spark's flooring timestamp→long
  cast (DuckDB CAST(double AS BIGINT) rounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from kafka_go_cardinality_spark.operators.relational import (
    asof_join,
    grouped_topk,
    range_join_bucketed,
    topk,
)
from kafka_go_cardinality_spark.queries import query
from kafka_go_cardinality_spark.session import conf_override
from kafka_go_cardinality_spark.sources import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --- E1: scans -------------------------------------------------------------


@query(
    "q_scan_parquet",
    """
    SELECT l_orderkey, l_quantity FROM lineitem WHERE l_quantity > 45
    """,
)
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E1] Parquet scan with projection + predicate.  The point at scale:
    `.explain` shows ReadSchema with exactly two columns and PushedFilters
    [GreaterThan(l_quantity,45.0)] — the scan reads a projection, not the
    table."""
    return (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity")
        .filter(F.col("l_quantity") > 45)
    )


_SCAN_ROUNDTRIP_ORACLE = """
    SELECT n_nationkey, n_name, n_regionkey FROM nation
"""


def _register_scan_format(fmt: str) -> None:
    @query(f"q_scan_{fmt}", _SCAN_ROUNDTRIP_ORACLE)
    def _scan(spark: SparkSession, sf_dir: str, fmt: str = fmt) -> DataFrame:
        """[E1] Round-trip scan through a non-parquet format with an
        EXPLICIT schema (inference costs a full extra pass at scale and
        can flip types).  JSON/CSV are row formats — no pruning/pushdown;
        ORC keeps the columnar properties."""
        from kafka_go_cardinality_spark.sources.formats import scan_format

        return scan_format(spark, sf_dir, fmt)


for _fmt in ("json", "csv", "orc"):
    _register_scan_format(_fmt)


@query(
    "q_scan_partition_pruned",
    """
    SELECT CAST(ts AS DATE) AS event_date,
           count(*) AS n, count(DISTINCT user_id) AS users
    FROM events
    WHERE CAST(ts AS DATE) = DATE '2024-01-15'
    GROUP BY 1
    """,
)
def q_scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E1] Partition-pruned scan over a date-partitioned events layout:
    the filter binds to the hive partition column, so planning selects
    exactly one day's directory and the other 29 days' files are never
    opened (``.explain`` shows it as PartitionFilters with a 1-of-30
    partition count; pinned in tests/test_plans.py).  At 100 TB this is
    the difference between reading ~3 TB and reading everything."""
    from kafka_go_cardinality_spark.sources.tables import read_partitioned_events

    return (
        read_partitioned_events(spark, sf_dir)
        .filter(F.col("event_date") == F.lit("2024-01-15").cast("date"))
        .groupBy("event_date")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("users"),
        )
    )


# --- E2: filter predicates ---------------------------------------------------


@query(
    "q_filter_pred",
    """
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_orderstatus IN ('F', 'P')
      AND o_totalprice BETWEEN 1000 AND 5000
      AND o_orderpriority LIKE '%URGENT%'
      AND o_custkey IS NOT NULL
    """,
)
def q_filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E2] Compound predicate: IN + BETWEEN + LIKE + null-check.  All four
    push to the parquet scan; the reference's only filter is the implicit
    parse-error skip (/root/reference/kafkaio/kafkaio.go:77-81)."""
    o = _t(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderstatus").isin("F", "P")
        & F.col("o_totalprice").between(1000, 5000)
        & F.col("o_orderpriority").like("%URGENT%")
        & F.col("o_custkey").isNotNull()
    ).select("o_orderkey", "o_totalprice", "o_orderpriority")


# --- E3: projection expressions ---------------------------------------------


@query(
    "q_project_expr",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
    FROM lineitem
    """,
)
def q_project_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E3] Arithmetic projection (TPC-H revenue/charge shape).  Per-row
    IEEE arithmetic is engine-identical, so no rounding is needed."""
    l = _t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return l.select(
        "l_orderkey",
        "l_linenumber",
        revenue.alias("revenue"),
        (revenue * (1 + F.col("l_tax"))).alias("charge"),
    )


# --- E4/E5: joins -------------------------------------------------------------


@query(
    "q_join_inner",
    """
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E4] Equi inner join; Catalyst picks broadcast vs sort-merge vs
    shuffled-hash from stats + AQE.  The reference has a single input
    stream (/root/reference/main.go:19) — no join exists there."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@query(
    "q_join_broadcast",
    """
    SELECT s.s_suppkey, s.s_name, n.n_name, r.r_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E5] Dimension snowflake with explicit broadcast hints: nation and
    region are fixed-size (25/5 rows at any sf) — at 100 TB the fact side
    never shuffles for these joins."""
    s = _t(spark, sf_dir, "supplier")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "n_name", "r_name")
    )


@query(
    "q_join3_agg",
    """
    SELECT l.l_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(floor(epoch(o.o_orderdate)) AS BIGINT) AS o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def q_join3_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E6] TPC-H Q3 shape: 3-way join + agg + top-k.  Customer filter is
    pushed below the join; the orderkey tiebreaker makes LIMIT a total
    order so the selected set is deterministic."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    joined = c.join(o, c.c_custkey == o.o_custkey).join(
        l, o.o_orderkey == l.l_orderkey
    )
    agg = joined.groupBy("l_orderkey", "o_orderdate").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )
    return topk(
        agg.select(
            "l_orderkey",
            "revenue",
            # o_orderdate arrives as TIMESTAMP_NTZ (parquet ms, no UTC flag);
            # NTZ→long needs a hop through timestamp (session tz is UTC).
            F.col("o_orderdate").cast("timestamp").cast("long").alias("o_orderdate"),
        ),
        [F.col("revenue").desc(), F.col("l_orderkey")],
        10,
    )


@query(
    "q_join_left",
    """
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E7] Left outer join — keeps customers with no orders."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "q_join_semi",
    """
    SELECT c.c_custkey, c.c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 4000)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E7] Left-semi join (EXISTS): customers with at least one big order;
    at scale a semi-join ships only the join keys of the right side."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 4000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "q_join_anti",
    """
    SELECT c.c_custkey, c.c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E7] Left-anti join (NOT EXISTS): customers with no order over 400k
    (every customer has SOME order in the fixture, so the unfiltered anti
    would be vacuously empty — this keeps the result set non-trivial)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# --- E8: as-of / range joins --------------------------------------------------


@query(
    "q_asof_join",
    """
    SELECT p.event_id, p.user_id,
           CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_ts,
           c.event_id AS click_event_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E8] As-of join: each purchase gets the user's most recent prior (or
    simultaneous) click.  Implemented with the union+window technique —
    one shuffle on user_id, no range cross-product (operators/relational.py
    ``asof_join``)."""
    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_event_id"), F.col("user_id"), F.col("ts")
    )
    joined = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_value_cols=["click_event_id"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("ts").cast("long").alias("purchase_ts"),
        "click_event_id",
    )


@query(
    "q_range_join",
    """
    SELECT a.event_id AS click_id, b.event_id AS view_id, a.user_id
    FROM (SELECT * FROM events WHERE event_type = 'click') a
    JOIN (SELECT * FROM events WHERE event_type = 'view') b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts < a.ts + INTERVAL 10 MINUTES
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E8] Bounded interval join: views within 10 minutes after a click by
    the same user.  Bucketed decomposition → two equi hash joins instead of
    a nested-loop range join (operators/relational.py
    ``range_join_bucketed``)."""
    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    views = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts"), "user_id"
    )
    joined = range_join_bucketed(
        clicks, views, on="user_id", left_ts="ts", right_ts="view_ts", max_gap_seconds=600
    )
    return joined.select("click_id", "view_id", "user_id")


# --- E9-E11: aggregation ------------------------------------------------------


@query(
    "q_agg_q1",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_extendedprice), 6) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E9] TPC-H Q1 shape: multi-measure hash aggregation.  Partial
    (map-side) aggregation means the shuffle carries one row per
    (flag, status) per partition — at 100 TB the exchange is KB-sized.
    The reference's only aggregate is one HLL insert
    (/root/reference/processor/processor.go:87)."""
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("date")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
        F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "q_distinct",
    """
    SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
    """,
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E10] Exact distinct — the reference only has approximate distinct
    (/root/reference/processor/processor.go:80)."""
    return _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@query(
    "q_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    HAVING count(*) > 0
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E11] Hierarchical rollup: (flag, status), (flag), () grand total.
    Spark expands rollups into a single Expand+Aggregate — one pass.

    Empty-input contract (all three grouping-set shapes): ZERO input
    rows materialize ZERO groups.  ANSI aggregation gives the empty
    grouping set one n=0 row over empty input (DuckDB does); Spark's
    Expand emits nothing — the oracles pin Spark's behavior with
    ``HAVING count(*) > 0``, a no-op on any nonempty input."""
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@query(
    "q_cube",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    HAVING count(*) > 0
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E11] Full cube over two low-cardinality dimensions."""
    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    HAVING count(*) > 0
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E11] Explicit grouping sets — the general form rollup/cube are
    sugar for.  Like those, Spark plans ONE Expand + one aggregate pass
    over the input (no per-set rescan), so cost at 100 TB is one scan +
    one shuffle regardless of how many sets are listed."""
    return (
        _t(spark, sf_dir, "orders")
        .groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q_pivot",
    """
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E11] Pivot (long → wide) with an EXPLICIT value list — omitting
    it makes Spark run an extra distinct-scan job to discover the
    columns, a full pass wasted at scale.  Pivoted count yields NULL for
    empty cells; coalesce to 0 to match SQL's FILTER count."""
    pivoted = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "o_orderpriority",
        *[
            F.coalesce(F.col(c), F.lit(0)).alias(f"n_{c.lower()}")
            for c in ["F", "O", "P"]
        ],
    )


@query(
    "q_unpivot",
    """
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice' AS measure, l_extendedprice AS val
    FROM lineitem
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E11] Unpivot (wide → long): one Expand node, one scan — vs the
    naive k-way UNION ALL the oracle spells out, which scans the table
    once per measure column."""
    return (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_quantity", "l_extendedprice"],
            "measure",
            "val",
        )
    )


@query(
    "q_percentile",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 6) AS p50,
           round(quantile_cont(l_quantity, 0.95), 6) AS p95,
           round(quantile_cont(l_extendedprice, 0.25), 6) AS price_p25
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E9] Exact linear-interpolation percentiles per group (both
    engines interpolate identically; verified hash-equal unrounded too —
    rounding is belt-and-braces).  Exact percentile buffers every value
    per group; at 100 TB swap in ``approx_percentile`` (t-digest,
    bounded state) exactly as approx twins pair with exact ones
    elsewhere in this engine."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("p50"),
            F.round(F.percentile("l_quantity", F.lit(0.95)), 6).alias("p95"),
            F.round(F.percentile("l_extendedprice", F.lit(0.25)), 6).alias(
                "price_p25"
            ),
        )
    )


@query("q_percentile_approx", oracle=None)  # sketch values: rows-only by design
def q_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E9] The 100 TB twin of q_percentile: ``approx_percentile``
    (KLL-style sketch, constant state per group, mergeable map-side) —
    never oracle-declared, same policy as the HLL twins (SURVEY.md §7.3)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_quantity", F.lit(0.5), F.lit(10000)).alias("p50"),
            F.percentile_approx("l_quantity", F.lit(0.95), F.lit(10000)).alias("p95"),
        )
    )


# --- E12: window functions -----------------------------------------------------


@query(
    "q_window_rank",
    """
    SELECT c_custkey, c_nationkey, c_acctbal, rn FROM (
      SELECT c_custkey, c_nationkey, c_acctbal,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer
    ) WHERE rn <= 3
    """,
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E12] Grouped top-k via row_number — top 3 customers by balance per
    nation; c_custkey tiebreaker makes the window order total."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_custkey", "c_nationkey", "c_acctbal", "rn")
    )


@query(
    "q_window_frame",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend,
           lag(o_orderkey) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_order
    FROM orders
    """,
)
def q_window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E12] Analytic frame: per-customer running spend + lag.  The
    (date, orderkey) composite order is total, so the running sum's
    accumulation sequence — and hence its float value — is deterministic
    and engine-identical."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum("o_totalprice").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
            2,
        ).alias("running_spend"),
        F.lag("o_orderkey").over(w).alias("prev_order"),
    )


# --- E13: top-k -----------------------------------------------------------------


@query(
    "q_topk",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E13] Global top-k → TakeOrderedAndProject (per-partition heaps, no
    full sort); orderkey tiebreaker for determinism."""
    return topk(
        _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        10,
    )


# --- E14: set operations ----------------------------------------------------------


@query(
    "q_union",
    """
    SELECT c_nationkey AS nationkey FROM customer
    UNION ALL
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E14] UNION ALL (Spark's union is bag semantics, like SQL UNION ALL)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s)


@query(
    "q_intersect",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E14] INTERSECT (distinct semantics on both engines)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query(
    "q_except",
    """
    SELECT user_id FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-01'
    EXCEPT
    SELECT user_id FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-02'
    """,
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E14] EXCEPT (distinct): users active on Jan 1 but not Jan 2 (every
    user does every event type in the fixture, so type-based excepts are
    vacuously empty; daily activity splits the population)."""
    e = _t(spark, sf_dir, "events")
    day1 = e.filter(F.to_date("ts") == F.lit("2024-01-01")).select("user_id")
    day2 = e.filter(F.to_date("ts") == F.lit("2024-01-02")).select("user_id")
    return day1.subtract(day2)


# --- E15: scalar functions ---------------------------------------------------------


@query(
    "q_scalar_str",
    """
    SELECT p_partkey,
           upper(p_brand) AS brand_u,
           substring(p_name, 1, 8) AS name_prefix,
           p_brand || '/' || p_type AS brand_type,
           length(p_name) AS name_len
    FROM part
    """,
)
def q_scalar_str(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E15] String scalars: upper / substring / concat / length."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").alias("name_len"),
    )


@query(
    "q_scalar_date",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS order_year,
           CAST(month(o_orderdate) AS INT) AS order_month,
           CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since_95,
           CAST(floor(epoch(date_trunc('quarter', o_orderdate))) AS BIGINT) AS quarter_start
    FROM orders
    """,
)
def q_scalar_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E15] Date scalars: year / month / datediff / date_trunc.  The
    reference's only date math is epoch arithmetic + AddDate
    (/root/reference/processor/processor.go:44-49)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_95"
        ),
        F.date_trunc("quarter", F.col("o_orderdate")).cast("long").alias("quarter_start"),
    )


@query(
    "q_scalar_math",
    """
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice, 1) AS price_r,
           abs(l_discount - 0.05) AS disc_dev,
           round(sqrt(l_quantity), 6) AS qty_sqrt
    FROM lineitem
    """,
)
def q_scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E15] Math scalars: round / abs / sqrt (IEEE-deterministic per row)."""
    l = _t(spark, sf_dir, "lineitem")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 1).alias("price_r"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
    )


# --- E16: JSON / array functions ------------------------------------------------------


@query(
    "q_json_extract",
    """
    SELECT event_id, CAST(props ->> '$.k' AS INT) AS k
    FROM events
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E16] JSON path extraction from a string column — the reference only
    touches JSON at the wire (/root/reference/kafkaio/kafkaio.go:77, 92)."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


@query(
    "q_array_ops",
    """
    SELECT vec_id,
           len(embedding) AS dim,
           round(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
           round(CAST(embedding[64] AS DOUBLE), 6) AS last_val,
           round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS vec_sum
    FROM embeddings
    """,
)
def q_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E16] Higher-order array functions over ArrayType(Float): size,
    element_at, and an in-order double-accumulated fold (same accumulation
    sequence as the oracle → bit-identical before rounding)."""
    e = _t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        # try_element_at, not element_at: a wrong-dimension vector in a
        # real corpus must yield NULL (DuckDB's out-of-bounds semantics),
        # not an INVALID_ARRAY_INDEX job abort.
        F.round(F.try_element_at("embedding", F.lit(1)).cast("double"), 6).alias("first_val"),
        F.round(F.try_element_at("embedding", F.lit(64)).cast("double"), 6).alias("last_val"),
        # Fold over array_compact, guarded by a non-empty compacted size:
        # a bare `aggregate` fold is NULL-absorbing (one NULL element →
        # NULL sum) while the oracle's list_sum is NULL-skipping (NULL
        # iff no non-NULL element).  This query deliberately surfaces
        # every vector unfiltered, so it must carry SQL sum semantics
        # itself rather than rely on vec_finite upstream.
        F.round(
            F.when(
                F.size(F.array_compact("embedding")) > 0,
                F.aggregate(
                    F.array_compact("embedding"),
                    F.lit(0.0).cast("double"),
                    lambda acc, x: acc + x.cast("double"),
                ),
            ),
            6,
        ).alias("vec_sum"),
    )


@query(
    "q_array_explode",
    """
    SELECT e.vec_id, CAST(t.i - 1 AS INT) AS pos,
           round(CAST(e.embedding[CAST(t.i AS INT)] AS DOUBLE), 6) AS val
    FROM embeddings e CROSS JOIN generate_series(1, 64) t(i)
    WHERE e.vec_id < 5
    """,
)
def q_array_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E16] posexplode: flatten vectors to (vec_id, pos, val) rows."""
    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5)
    return e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "val")
    ).select("vec_id", "pos", F.round(F.col("val").cast("double"), 6).alias("val"))


@query(
    "q_agg_stats",
    """
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 6) AS std_qty,
           round(var_samp(l_discount), 6) AS var_disc,
           round(covar_samp(l_quantity, l_extendedprice)
                 / nullif(stddev_samp(l_quantity)
                          * stddev_samp(l_extendedprice), 0), 6)
             AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E9] Statistical aggregates (stddev/variance/correlation/covariance)
    — the descriptive-stats pass of a data-quality report.  All are
    declarative aggregates with partial merge (sum/sum-of-squares/cross
    moments), so the shuffle carries one moment tuple per group per
    partition, never rows.  The reference's only statistic is an HLL
    estimate (/root/reference/processor/processor.go:93).

    Correlation is the guarded moment ratio covar/(sx*sy), NOT the
    built-in ``corr``: under ANSI Spark's corr aborts the job with
    DIVIDE_BY_ZERO the moment any group's variable is constant (every
    value identical — inevitable in some slice of a 100 TB corpus),
    where DuckDB's returns NULL.  ``try_divide``/``nullif(.., 0)``
    define corr = NULL on zero variance identically on both engines;
    the ratio is algebraically corr's own formula, so non-degenerate
    groups round to the same 6 decimals."""
    l = _t(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("std_qty"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
        F.round(
            F.try_divide(
                F.covar_samp("l_quantity", "l_extendedprice"),
                F.stddev_samp("l_quantity") * F.stddev_samp("l_extendedprice"),
            ),
            6,
        ).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "covar_qty_price"
        ),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_window_ntile",
    """
    SELECT c_custkey, c_nationkey,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E12] Distribution window functions (ntile / percent_rank /
    cume_dist) — the bucketing primitives behind stratified reporting.
    One hash shuffle on the partition key, in-partition sort, no join.
    The c_custkey tiebreaker makes the order total so every engine
    assigns identical buckets."""
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@query(
    "q_join_full",
    """
    SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
           c.c_name,
           o.n_big_orders
    FROM (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 1000) c
    FULL JOIN (
      SELECT o_custkey, count(*) AS n_big_orders
      FROM orders WHERE o_totalprice > 300000
      GROUP BY o_custkey
    ) o ON c.c_custkey = o.o_custkey
    """,
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E7] Full outer join with unmatched rows on BOTH sides (filtered
    customers vs big-order counts).  Full outer can never broadcast —
    both sides must shuffle on the key — so at 100 TB this is the one
    join shape where pre-bucketing both tables on custkey is the lever."""
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 1000)
        .select("c_custkey", "c_name")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_big_orders"))
    )
    joined = c.join(o, c["c_custkey"] == o["o_custkey"], "full_outer")
    return joined.select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        "c_name",
        "n_big_orders",
    )


@query(
    "q_agg_collect",
    """
    SELECT c_nationkey,
           string_agg(CAST(c_custkey AS VARCHAR), ',' ORDER BY c_custkey)
             AS top_custkeys,
           count(*) AS n
    FROM (
      SELECT c_nationkey, c_custkey,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer
    ) WHERE rn <= 5
    GROUP BY c_nationkey
    """,
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E9/E16] Ordered list aggregation: top-5 customers per nation
    collapsed to one CSV string per group.  sort_array(collect_list)
    makes the aggregation order-insensitive — partial collects arrive in
    partition order, the sort canonicalizes — so the result is
    deterministic under any degree of parallelism."""
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    top = (
        _t(spark, sf_dir, "customer")
        .select("c_nationkey", "c_custkey", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 5)
    )
    return top.groupBy("c_nationkey").agg(
        F.array_join(
            F.sort_array(F.collect_list(F.col("c_custkey"))).cast(
                "array<string>"
            ),
            ",",
        ).alias("top_custkeys"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_scan_schema_evolution",
    """
    SELECT n_nationkey, n_name, CAST(NULL AS VARCHAR) AS iso_code,
           CAST(1 AS INT) AS gen
    FROM nation
    UNION ALL
    SELECT n_nationkey, n_name, upper(substring(n_name, 1, 3)) AS iso_code,
           CAST(2 AS INT) AS gen
    FROM nation
    """,
)
def q_scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E1] Schema-evolution scan: a table whose later generation added an
    ``iso_code`` column, read with ``mergeSchema`` — pre-evolution rows
    surface the new column as NULL, no rewrite of old files.  The gen=N
    layout is also a discovered partition column (sources/tables.
    evolved_nation_path)."""
    from kafka_go_cardinality_spark.sources.tables import evolved_nation_path

    path = evolved_nation_path(spark, sf_dir)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(path)
        .select("n_nationkey", "n_name", "iso_code", F.col("gen").cast("int").alias("gen"))
    )


@query(
    "q_argmax",
    """
    SELECT event_type, user_id AS top_user, round(value, 6) AS top_value
    FROM (
      SELECT event_type, user_id, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E9] argmax aggregation: per event type, the user holding the max
    value, ties broken by the unique event_id (the same total order the
    oracle's window spells out).

    Deliberately TWO hash-aggregated passes instead of one
    ``max_by(user_id, struct(value, event_id))``: a struct ordering key
    gives max_by a variable-width buffer, which disqualifies
    HashAggregateExec and demotes the whole aggregation to
    SortAggregate — a per-partition sort of the ENTIRE events table to
    produce five groups.  Here pass 1 is a plain max per type (5-row
    result, broadcast); pass 2 equi-joins the max back and runs
    ``max_by(user_id, event_id)`` — both BIGINT, fixed-width buffer,
    pure HashAggregate.  Two scans, zero sorts; the tie-break pass only
    aggregates the handful of rows that match the per-type maximum.

    The value join is NULL-SAFE (``<=>``): if an event_type's values
    were ever all NULL, ``max`` yields NULL and a plain equality would
    drop the group entirely, while the oracle's row_number window still
    emits one row with NULL top_value.  ``eqNullSafe`` keeps the two
    semantics identical (NULL rows match the NULL max; a non-null max
    never matches NULL rows) without assuming fixture non-nullness."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", "user_id", "value", "event_id"
    )
    mx = ev.groupBy(F.col("event_type").alias("mx_type")).agg(
        F.max("value").alias("mx_value")
    )
    return (
        ev.join(
            F.broadcast(mx),
            # BOTH keys null-safe: SQL's PARTITION BY keeps a NULL
            # event_type as a real group, so a plain == on the type
            # would silently drop it here (and NULL values, above).
            F.col("event_type").eqNullSafe(F.col("mx_type"))
            & (F.col("value").eqNullSafe(F.col("mx_value"))),
        )
        .groupBy("event_type")
        .agg(
            F.max_by("user_id", "event_id").alias("top_user"),
            F.round(F.max("value"), 6).alias("top_value"),
        )
    )


@query(
    "q_merge_upsert",
    """
    WITH updates AS (
      SELECT o_orderkey, 'U' AS o_orderstatus, round(o_totalprice + 1000, 2) AS o_totalprice
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey + 100000000, 'N' AS o_orderstatus, round(o_totalprice, 2) AS o_totalprice
      FROM orders WHERE o_orderkey % 1000 = 0
    )
    SELECT COALESCE(u.o_orderkey, t.o_orderkey) AS o_orderkey,
           COALESCE(u.o_orderstatus, t.o_orderstatus) AS o_orderstatus,
           COALESCE(u.o_totalprice, round(t.o_totalprice, 2)) AS o_totalprice,
           CASE WHEN u.o_orderkey IS NULL THEN 'kept'
                WHEN t.o_orderkey IS NULL THEN 'inserted'
                ELSE 'updated' END AS merge_action
    FROM orders t FULL OUTER JOIN updates u ON t.o_orderkey = u.o_orderkey
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E29] MERGE INTO semantics as a full-outer-join + coalesce — the
    incremental-ingest upsert (update matched keys, insert new ones, keep
    the rest) expressed declaratively.  The update set here is derived
    deterministically from the target (10% restated, 0.1% new keys).  At
    100 TB this is THE nightly pattern: one shuffle on the merge key for
    both sides — or zero shuffles when target and updates are both
    bucketed on the key (see sources/tables.write_bucketed) — and AQE
    splits skewed keys.  Engines with storage-level MERGE (Delta/Iceberg)
    compile to exactly this join."""
    t = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = (
        t.filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            F.lit("U").alias("o_orderstatus"),
            F.round(F.col("o_totalprice") + 1000, 2).alias("o_totalprice"),
        )
        .unionByName(
            t.filter(F.col("o_orderkey") % 1000 == 0).select(
                (F.col("o_orderkey") + 100_000_000).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                F.round(F.col("o_totalprice"), 2).alias("o_totalprice"),
            )
        )
    )
    tt = t.alias("t")
    u = updates.alias("u")
    joined = tt.join(u, F.col("t.o_orderkey") == F.col("u.o_orderkey"), "full_outer")
    return joined.select(
        F.coalesce(F.col("u.o_orderkey"), F.col("t.o_orderkey")).alias("o_orderkey"),
        F.coalesce(F.col("u.o_orderstatus"), F.col("t.o_orderstatus")).alias(
            "o_orderstatus"
        ),
        F.coalesce(F.col("u.o_totalprice"), F.round(F.col("t.o_totalprice"), 2)).alias(
            "o_totalprice"
        ),
        F.when(F.col("u.o_orderkey").isNull(), F.lit("kept"))
        .when(F.col("t.o_orderkey").isNull(), F.lit("inserted"))
        .otherwise(F.lit("updated"))
        .alias("merge_action"),
    )


@query(
    "q_agg_filtered",
    """
    SELECT l_returnflag,
           count(*) AS n_rows,
           count(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
           round(sum(l_extendedprice) FILTER (WHERE l_discount > 0.05), 2)
             AS discounted_revenue,
           round(avg(l_quantity) FILTER (WHERE l_tax < 0.04), 6) AS low_tax_avg_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E9] Conditional (FILTER-clause) aggregation: several differently-
    predicated measures in ONE aggregation pass — the alternative (one
    self-join or separate scan per predicate) multiplies reads.  Spark
    expresses the filter as when()-conditioned inputs, which compiles to
    the identical conditional-update aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    bulk = F.when(F.col("l_quantity") > 25, 1)
    disc = F.when(F.col("l_discount") > 0.05, F.col("l_extendedprice"))
    lowtax = F.when(F.col("l_tax") < 0.04, F.col("l_quantity"))
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(bulk).alias("n_bulk"),
        F.round(F.sum(disc), 2).alias("discounted_revenue"),
        F.round(F.avg(lowtax), 6).alias("low_tax_avg_qty"),
    )


@query(
    "q_histogram",
    """
    SELECT CAST(CASE WHEN o_totalprice < 0.0 THEN 0
                     WHEN o_totalprice >= 600000.0 THEN 25
                     ELSE 1 + floor((o_totalprice - 0.0) * 24 / (600000.0 - 0.0))
                END AS BIGINT) AS bucket,
           count(*) AS n_orders,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM orders
    GROUP BY 1
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E9] Fixed-width numeric histogram via ``width_bucket`` — the
    distribution-profiling primitive (one pass, map-side combine; the
    shuffle carries one row per bucket).  Fixed bounds make the bucket
    function pure, so histograms from different table shards merge by
    simple count addition — the scale path for profiling 100 TB."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        F.width_bucket("o_totalprice", F.lit(0.0), F.lit(600000.0), F.lit(24))
        .cast("long")
        .alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


@query(
    "q_map_ops",
    """
    SELECT event_id,
           coalesce(array_to_string(list_sort(json_keys(props)), ','), '') AS keys,
           CAST(coalesce(len(json_keys(props)), 0) AS INT) AS n_keys,
           coalesce(list_contains(json_keys(props), 'k'), FALSE) AS has_k,
           CAST(props ->> '$.k' AS INT) AS k_val
    FROM events
    """,
)
def q_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E16] MapType functions over the JSON props column: parse to
    ``map<string,int>`` once, then map_keys / size / membership / value
    access — all JVM-side (the parse is the only nontrivial op; the rest
    are O(keys) accessors inside codegen)."""
    e = _t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,int>")
    keyed = e.select("event_id", m.alias("m"))
    # Accessors coalesce to DEFINED values on a NULL/unparseable props
    # map — '' / 0 / false, same as the oracle — so a corrupt payload
    # degrades to "no keys" instead of a three-way NULL that DuckDB and
    # Spark stringify differently.  k_val stays NULL (absent ≠ zero).
    return keyed.select(
        "event_id",
        F.coalesce(
            F.array_join(F.array_sort(F.map_keys("m")), ","), F.lit("")
        ).alias("keys"),
        F.coalesce(F.size("m"), F.lit(0)).alias("n_keys"),
        F.coalesce(
            F.array_contains(F.map_keys("m"), "k"), F.lit(False)
        ).alias("has_k"),
        F.col("m")["k"].alias("k_val"),
    )


@query(
    "q_join_bucketed",
    """
    SELECT c.c_nationkey,
           count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E4 scale path] The fact⋈dim join over BUCKETED tables: both sides
    pre-hashed to 8 buckets on the join key (sources/tables.bucketed_pair),
    so the join itself needs no shuffle — the scan's bucket spec satisfies
    the join's distribution requirement and only the final nationkey
    aggregate exchanges.  Same answer as the raw-table join (same oracle
    family as q_join_inner); the zero-exchange property is pinned in
    tests/test_plans.py."""
    from kafka_go_cardinality_spark.sources.tables import bucketed_pair

    o_name, c_name = bucketed_pair(spark, sf_dir)
    o = spark.table(o_name)
    c = spark.table(c_name)
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "q_histogram_equidepth",
    """
    WITH b AS (
      SELECT quantile_cont(o_totalprice,
                           [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bounds
      FROM orders)
    SELECT CAST(1 + len(list_filter(b.bounds, x -> o.o_totalprice > x)) AS INT)
             AS decile,
           count(*) AS n_orders,
           round(min(o.o_totalprice), 2) AS lo,
           round(max(o.o_totalprice), 2) AS hi
    FROM orders o CROSS JOIN b
    GROUP BY 1
    """,
)
def q_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E9] Equi-depth (decile) histogram WITHOUT a global sort: exact
    decile boundaries from one percentile aggregate (a 1-row broadcast),
    then bucket assignment as a map-side count-of-boundaries-below.  The
    ntile() formulation needs a single-reducer total order — this shape
    keeps the heavy pass embarrassingly parallel at 100 TB.  (Both
    engines interpolate percentiles linearly; boundaries only coincide
    with data values when (n-1)·q is integral, in which case both sides
    hit the data value exactly — comparisons stay engine-identical.)"""
    o = _t(spark, sf_dir, "orders")
    bounds = o.agg(
        F.percentile(
            "o_totalprice",
            F.array(*[F.lit(x / 10.0) for x in range(1, 10)]),
        ).alias("bounds")
    )
    joined = o.crossJoin(F.broadcast(bounds))
    decile = 1 + F.size(
        F.filter(F.col("bounds"), lambda x: F.col("o_totalprice") > x)
    )
    return joined.groupBy(decile.cast("int").alias("decile")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


@query(
    "q_scan_dpp",
    """
    SELECT CAST(ts AS DATE) AS event_date,
           count(*) AS n, count(DISTINCT user_id) AS users
    FROM events
    WHERE isodow(CAST(ts AS DATE)) >= 6
    GROUP BY 1
    """,
)
def q_scan_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E1] DYNAMIC partition pruning: the weekend filter lives on a
    calendar dimension, not the fact table, so static pruning can't
    apply — Catalyst injects a dynamicpruning subquery that evaluates the
    broadcast dim side FIRST and scans only the fact partitions whose
    event_date survived (pinned in tests/test_plans.py).  At 100 TB this
    is "scan only the days the campaign ran" with the day set decided by
    data, not hardcoded dates."""
    from kafka_go_cardinality_spark.sources.tables import (
        date_dim_path,
        read_partitioned_events,
    )

    fact = read_partitioned_events(spark, sf_dir)
    dim = spark.read.parquet(date_dim_path(spark, sf_dir)).filter(F.col("dow") >= 6)
    return (
        fact.join(F.broadcast(dim.select("event_date")), "event_date")
        .groupBy("event_date")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("users"),
        )
    )


@query(
    "q_join_runtime_filter",
    """
    SELECT l_returnflag, count(*) AS n,
           round(sum(l_extendedprice), 2) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag
    """,
)
def q_join_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E4 scale path] Runtime bloom-filter join pruning: the selective
    orders predicate is turned into a bloom filter EVALUATED INSIDE the
    lineitem scan (``bloom_filter_might_contain`` as a DataFilter), so
    ~3/4 of fact rows die before the join shuffle instead of after it.

    At 100 TB the default thresholds (creation side < 10 MB, application
    side > 10 GB) trigger this automatically; at test scale we lower the
    application-side threshold and pin broadcast off so the shuffle-join
    shape that NEEDS the filter is what gets planned (a broadcast join
    already prunes via the hash table).  Plan pinned in
    tests/test_plans.py.
    """
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    with conf_override(spark, confs):
        lineitem = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_returnflag", "l_extendedprice"
        )
        orders = _t(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        joined = lineitem.join(
            orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        out = joined.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
        # Force optimization + physical planning NOW, inside the conf
        # scope: QueryExecution memoizes its plans, so the bloom filter
        # injected here survives the conf restore below.  (Catalyst
        # plans lazily at action time; without this the restored confs
        # would plan a bloom-less join.)
        out._jdf.queryExecution().executedPlan()
        return out


@query(
    "q_join_skew_salted",
    """
    SELECT o_orderkey, o_totalprice, c_name
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E4 skew path] Two-sided salted join: deterministic content-hash
    salt on the fact side, dim replicated once per salt value, join on
    (key, salt) — a hot key spreads over 8 reducers.  Same oracle as the
    plain join: salting changes the plan, never the answer.  This is the
    manual rescue for shapes AQE's skew splitting can't reach
    (stream-stream joins, shuffled-hash, strict partitioning
    requirements) — operators/relational.salted_join."""
    from kafka_go_cardinality_spark.operators.relational import salted_join

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return salted_join(
        orders, customer, fact_key="o_custkey", dim_key="c_custkey"
    ).select("o_orderkey", "o_totalprice", "c_name")


@query(
    "q_scan_zorder",
    """
    SELECT count(*) AS n, round(sum(value), 4) AS total
    FROM events
    WHERE user_id BETWEEN 100 AND 500
      AND CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-14'
    """,
)
def q_scan_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E1 layout] 2-D-filtered scan over a Z-ORDERED (Morton-clustered)
    events copy: interleaving the bits of (user_id, day) before a range
    write keeps parquet min/max footers tight on BOTH columns, so a
    (user range × date range) predicate skips files/row-groups in both
    dimensions — a linear sort only ever prunes its leading column.
    This single-copy layout answer to multi-dimension filtering is what
    Delta/Iceberg expose as OPTIMIZE ZORDER; here it is ~30 lines of
    bit-arithmetic expressions (sources/tables.morton2) and a range
    write.  Measured from the real footers at sf0.01 (256 files): 28
    candidate files under the box vs 44 for a (day, ts)-sorted linear
    layout — and the gap widens with the domain sizes of both
    dimensions (tests/test_plans.py)."""
    from kafka_go_cardinality_spark.sources.tables import zordered_events_paths

    zpath, _ = zordered_events_paths(spark, sf_dir)
    df = spark.read.parquet(zpath)
    return (
        df.filter(
            F.col("user_id").between(100, 500)
            & F.to_date("ts").between("2024-01-10", "2024-01-14")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total"),
        )
    )


@query(
    "q_tpch_q5",
    """
    SELECT n.n_name,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents,
           count(*) AS n_items
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
                   AND s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    ORDER BY revenue_cents DESC
    """,
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E6] TPC-H Q5 shape: local-supplier revenue per nation within one
    region.  The tree is written FACT-ANCHORED on purpose: region⋈nation
    prunes suppliers to the one region FIRST, that ~1/5 supplier set
    broadcasts into lineitem (cutting the fact before anything
    expensive), then the single orderkey equi-join attaches orders, and
    customer joins last with the same-nation residual — UNHINTED: unlike
    nation/region (fixed 25/5 rows) and the region-pruned supplier set,
    customer scales with SF, so Catalyst must pick broadcast vs shuffle
    by measured size (broadcast at fixture scale, shuffle hash at
    100 TB).  Only the constant-size sides carry hints.
    Written dim-first (customer⋈orders⋈lineitem), Catalyst's size
    estimates at fixture scale made LINEITEM the broadcast build side —
    locally harmless, at 100 TB the one plan that cannot run; anchoring
    the join order is the fix stats can't drift away from.  Revenue is
    quantized to integer cents PER ROW before the sum — exact integer
    aggregation, immune to float summation order (SURVEY.md §7.5)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    asia_sup = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "n_nationkey", "n_name")
    )
    joined = (
        l.join(asia_sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            c,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("c_nationkey") == F.col("n_nationkey")),
        )
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.sum(cents).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.col("revenue_cents").desc())
    )


@query(
    "q_tpch_q3",
    """
    SELECT l.l_orderkey,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents,
           CAST(epoch(o.o_orderdate) AS BIGINT) AS o_orderdate_epoch,
           o.o_orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-04-01'
      AND l.l_shipdate  > TIMESTAMP '1998-04-01'
    GROUP BY 1, 3, 4
    ORDER BY revenue_cents DESC, l_orderkey
    LIMIT 10
    """,
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E6] TPC-H Q3 shape (shipping-priority): top unshipped orders of
    one market segment by pending revenue.  The plan showcase: BOTH
    filters (segment on customer, date on orders/lineitem) push to the
    scans, customer broadcasts, so the only shuffle is the
    (orderkey-keyed) aggregate; the top-10 runs as TakeOrdered — no
    global sort materializes.  Revenue quantized to integer cents per
    row before summing (cross-engine exactness, SURVEY.md §7.5)."""
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-04-01").cast("timestamp")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-04-01").cast("timestamp")
    )
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            "l_orderkey",
            F.unix_timestamp("o_orderdate").alias("o_orderdate_epoch"),
            "o_orderpriority",
        )
        .agg(F.sum(cents).alias("revenue_cents"))
        .select(
            "l_orderkey", "revenue_cents", "o_orderdate_epoch", "o_orderpriority"
        )
        .orderBy(F.col("revenue_cents").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "q_tpch_q10",
    """
    SELECT c.c_custkey, c.c_name,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents,
           CAST(round(c.c_acctbal * 100) AS BIGINT) AS acctbal_cents,
           n.n_name
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1998-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-07-01'
      AND l.l_returnflag = 'R'
    GROUP BY 1, 2, 4, 5
    ORDER BY revenue_cents DESC, c_custkey
    LIMIT 20
    """,
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E6] TPC-H Q10 shape (returned-item reporting): customers who
    returned the most revenue in one quarter-ish window.  Date and
    returnflag predicates push to the fact scans; nation broadcasts;
    the aggregate shuffles on the (custkey-led) group key once.  Same
    integer-cents quantization as Q3/Q5."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-07-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "c_custkey",
            "c_name",
            F.round(F.col("c_acctbal") * 100).cast("long").alias("acctbal_cents"),
            "n_name",
        )
        .agg(F.sum(cents).alias("revenue_cents"))
        .select(
            "c_custkey", "c_name", "revenue_cents", "acctbal_cents", "n_name"
        )
        .orderBy(F.col("revenue_cents").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q_fk_audit",
    """
    SELECT * FROM (
      SELECT 'orders.custkey->customer' AS fk,
             (SELECT count(*) FROM orders) AS fact_rows,
             (SELECT count(*) FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = o.o_custkey)) AS orphans
      UNION ALL
      SELECT 'lineitem.orderkey->orders',
             (SELECT count(*) FROM lineitem),
             (SELECT count(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_orderkey = l.l_orderkey))
      UNION ALL
      SELECT 'lineitem.partkey->part',
             (SELECT count(*) FROM lineitem),
             (SELECT count(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM part p
                                WHERE p.p_partkey = l.l_partkey))
      UNION ALL
      SELECT 'customer.nationkey->nation',
             (SELECT count(*) FROM customer),
             (SELECT count(*) FROM customer c
              WHERE NOT EXISTS (SELECT 1 FROM nation n
                                WHERE n.n_nationkey = c.c_nationkey))
    ) ORDER BY fk
    """,
)
def q_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E31] Referential-integrity audit: orphan counts for the four
    main foreign keys, via LEFT ANTI joins (the distributed NOT
    EXISTS).  Each anti join shuffles on its key — except the two
    whose dimension side (nation, customer-at-this-sf) broadcasts, so
    the fact side is never exchanged at all.  The audit that gates a
    100 TB ingest before bad keys poison every downstream join."""

    def orphans(fk: str, fact: DataFrame, fact_key: str, dim: DataFrame, dim_key: str):
        anti = fact.join(
            dim, fact[fact_key] == dim[dim_key], "left_anti"
        )
        return (
            fact.agg(F.count(F.lit(1)).alias("fact_rows"))
            .crossJoin(anti.agg(F.count(F.lit(1)).alias("orphans")))
            .select(F.lit(fk).alias("fk"), "fact_rows", "orphans")
        )

    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    return (
        orphans("orders.custkey->customer", o, "o_custkey", c, "c_custkey")
        .unionByName(
            orphans(
                "lineitem.orderkey->orders", l, "l_orderkey", o, "o_orderkey"
            )
        )
        .unionByName(
            orphans(
                "lineitem.partkey->part",
                l,
                "l_partkey",
                _t(spark, sf_dir, "part"),
                "p_partkey",
            )
        )
        .unionByName(
            orphans(
                "customer.nationkey->nation",
                c,
                "c_nationkey",
                _t(spark, sf_dir, "nation"),
                "n_nationkey",
            )
        )
        .orderBy("fk")
    )


@query(
    "q_tpch_q18",
    """
    WITH big AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING sum(CAST(round(l_quantity * 100) AS BIGINT)) > 25000)
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           CAST(epoch(o.o_orderdate) AS BIGINT) AS o_orderdate_epoch,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS totalprice_cents,
           CAST(sum(CAST(round(l.l_quantity * 100) AS BIGINT)) AS BIGINT)
             AS qty_centi
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY 1, 2, 3, 4, 5
    ORDER BY totalprice_cents DESC, o_orderkey
    LIMIT 100
    """,
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E6] TPC-H Q18 shape (large-volume customers): orders whose total
    quantity exceeds a threshold, with customer context.  The plan
    story is the semi-join pipeline: the HAVING subquery aggregates
    lineitem FIRST (orderkey-keyed, map-side combined), and its
    surviving ~1% of keys semi-join the fact pipeline BEFORE the wide
    customer join — the selective filter runs at the narrowest point.
    Quantities quantized ×100 per row for exact integer sums."""
    l = _t(spark, sf_dir, "lineitem")
    qty = F.round(F.col("l_quantity") * 100).cast("long")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("q"))
        .filter(F.col("q") > 25000)
        .select("l_orderkey")
    )
    o = _t(spark, sf_dir, "orders").join(
        big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi"
    )
    c = _t(spark, sf_dir, "customer")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.unix_timestamp("o_orderdate").alias("o_orderdate_epoch"),
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("totalprice_cents"),
        )
        .agg(F.sum(qty).alias("qty_centi"))
        .orderBy(F.col("totalprice_cents").desc(), "o_orderkey")
        .limit(100)
    )


@query(
    "q_tpch_q6",
    """
    SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E6] TPC-H Q6 (forecasting-revenue change) — the canonical
    SCAN-BOUND query: no join, three conjunctive predicates, one global
    sum.  The entire plan property is pushdown: date bounds, discount
    band, and quantity cap all reach the parquet scan as PushedFilters
    (row groups whose min/max stats miss the bands are never read), the
    projection prunes to 4 columns, and the aggregate is a 1-row
    partial/final pair — at 100 TB this query is I/O times the
    selectivity of the footer stats, nothing else.  Discount revenue is
    quantized to integer cents per row before the sum (SURVEY.md §7.5
    determinism rule)."""
    l = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * F.col("l_discount") * 100).cast(
        "long"
    )
    return (
        l.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(cents).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q_tpch_q14",
    """
    SELECT CAST(sum(CASE WHEN p.p_type = 'PROMO'
                    THEN CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                    * 100) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS promo_cents,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS total_cents,
           round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                    THEN CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                    * 100) AS BIGINT)
                    ELSE 0 END)
                 / sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                            AS BIGINT)), 6) AS promo_pct
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
      AND l.l_shipdate <  TIMESTAMP '1996-10-01'
    """,
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E6] TPC-H Q14 (promotion effect): promo share of one month's
    revenue.  Plan story: the month filter pushes to the lineitem scan
    (one month of a 100 TB fact survives), part broadcasts, and both
    the conditional and unconditional sums run in the SAME single
    aggregate pass — a FILTER-clause/CASE pair, not two scans.  The
    percentage divides the two exact integer-cent sums, so even the
    ratio is deterministic cross-engine."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01")
        & (F.col("l_shipdate") < "1996-10-01")
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "long"
    )
    promo = F.when(F.col("p_type") == "PROMO", cents).otherwise(F.lit(0))
    return (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(promo).alias("promo_cents"),
            F.sum(cents).alias("total_cents"),
        )
        .select(
            "promo_cents",
            "total_cents",
            F.round(
                F.lit(100.0) * F.col("promo_cents") / F.col("total_cents"), 6
            ).alias("promo_pct"),
        )
    )


@query(
    "q_tpch_q4",
    """
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
      AND o.o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E6] TPC-H Q4 shape (order-priority checking): orders of one
    quarter having at least one late-shipped line (shipdate > orderdate
    + 60 days; the fixture has no commitdate/receiptdate, so the late
    predicate adapts to the columns it ships — same EXISTS shape).
    Plan story: the correlated EXISTS becomes a LEFT SEMI join, so each
    qualifying order counts ONCE no matter how many lines are late —
    no distinct, no fan-out-and-dedup; the quarter filter pushes to the
    orders scan before the join."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01")
        & (F.col("o_orderdate") < "1996-10-01")
    )
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        l,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q_tpch_q19",
    """
    SELECT CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents,
           count(*) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1'  AND p.p_size BETWEEN 1  AND 15
           AND l.l_quantity BETWEEN 1  AND 20)
       OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#25' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 40)
    """,
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E6] TPC-H Q19 shape (discounted-revenue, disjunctive predicate):
    three OR'd (brand × size × quantity) bands across the join.  The
    predicate references BOTH tables, so naively it can only run as a
    post-join filter; Catalyst's CNF conversion extracts the
    per-table implications — the (brand, size) disjunction pushes to
    the part scan and the derived quantity hull to the lineitem scan —
    before the join, which broadcasts the surviving sliver of part.
    This extraction is the difference between joining 100 TB then
    filtering, and filtering then joining."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    band = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    ) | (
        (F.col("p_brand") == "Brand#13")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 30)
    ) | (
        (F.col("p_brand") == "Brand#25")
        & F.col("p_size").between(20, 50)
        & F.col("l_quantity").between(20, 40)
    )
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "long"
    )
    return (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .filter(band)
        .agg(
            F.sum(cents).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q_variant_props",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(props ->> '$.k' AS INT)) AS BIGINT) AS sum_k,
           max(CAST(props ->> '$.k' AS INT)) AS max_k
    FROM events
    WHERE CAST(props ->> '$.k' AS INT) >= 50
    GROUP BY event_type
    """,
)
def q_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E16] Spark 4 VARIANT: ``parse_json`` once into the open-schema
    binary encoding, then typed ``variant_get`` paths for filter and
    measures — the semi-structured column the 100 TB event-props story
    wants: VARIANT decodes ~8× faster than per-path string re-parsing
    (each get_json_object re-parses the text) and keeps shredding-
    compatible typed access.  Oracle reads the same paths with DuckDB's
    JSON operators."""
    e = _t(spark, sf_dir, "events")
    v = e.select(
        "event_type", F.parse_json(F.col("props")).alias("pv")
    ).select(
        "event_type",
        F.expr("variant_get(pv, '$.k', 'int')").alias("k"),
    )
    return (
        v.filter(F.col("k") >= 50)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


@query(
    "q_pipe_syntax",
    """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def q_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E24] Spark 4 SQL pipe syntax (`|>`): the same logical plan as
    the equivalent nested SQL — Catalyst parses pipes into ordinary
    operators, so this is a parser surface, not an engine path.  The
    oracle states it in ANSI form."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_pipe_orders")
    return spark.sql(
        """
        FROM _pipe_orders
        |> WHERE o_orderstatus = 'F'
        |> AGGREGATE count(*) AS n_orders,
                     sum(CAST(round(o_totalprice * 100) AS BIGINT))
                       AS total_cents
           GROUP BY o_orderpriority
        |> SELECT o_orderpriority, n_orders, total_cents
        """
    )


# --- E6 widening: TPC-H Q7/Q8/Q12/Q15/Q16/Q21/Q22 shapes -------------------
#
# The remaining canonical join-tree shapes the benchmark family defines
# (reference has a single input stream and no joins at all —
# /root/reference/main.go:19), each adapted to the fixture schema where a
# TPC-H column is absent (no l_shipmode / l_commitdate / partsupp) and
# each quantized to integer cents per row so sums are order-independent
# and oracle-exact (SURVEY.md §7.5 determinism rules).

_CENTS = lambda: F.round(  # noqa: E731 — shared per-row revenue quantizer
    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
).cast("long")


@query(
    "q_tpch_q7",
    """
    WITH flat AS (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l.l_shipdate) AS l_year,
             CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                  AS BIGINT) AS cents
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
      JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate <  TIMESTAMP '1998-01-01')
    SELECT supp_nation, cust_nation, l_year,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM flat GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E6] TPC-H Q7 shape (volume shipping between two nations): the
    disjunctive cross-nation predicate means neither nation filter can
    be pushed below the join alone — but both nation dims broadcast
    (25 rows), so the pair filter evaluates inside the fact pipeline
    with zero extra exchanges; the only shuffles are the two fact-side
    equi-joins (lineitem⋈orders on orderkey, ⋈customer on custkey) and
    the final 2-year × 2-direction aggregate."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
        )
    )
    n2 = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
        )
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        l.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("s_nk") == F.col("s_nationkey"))
        .join(n2, F.col("c_nk") == F.col("c_nationkey"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(_CENTS()).alias("revenue_cents"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q_tpch_q8",
    """
    WITH flat AS (
      SELECT year(o.o_orderdate) AS o_year,
             ns.n_name AS supp_nation,
             CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                  AS BIGINT) AS cents
      FROM lineitem l
      JOIN part p     ON p.p_partkey = l.l_partkey AND p.p_type = 'PROMO'
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation nc  ON nc.n_nationkey = c.c_nationkey
      JOIN region r   ON r.r_regionkey = nc.n_regionkey AND r.r_name = 'ASIA'
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
      WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
        AND o.o_orderdate <  TIMESTAMP '1997-01-01')
    SELECT o_year,
           CAST(sum(CASE WHEN supp_nation = 'NATION_2' THEN cents ELSE 0 END)
                AS BIGINT) AS nation_cents,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           CAST(round(1000000.0 * sum(CASE WHEN supp_nation = 'NATION_2'
                                      THEN cents ELSE 0 END) / sum(cents))
                AS BIGINT) AS mkt_share_ppm
    FROM flat GROUP BY o_year ORDER BY o_year
    """,
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E6] TPC-H Q8 shape (national market share): an 8-table tree
    where every dimension (part, customer, nation×2, region, supplier)
    broadcasts and only the lineitem⋈orders equi-join shuffles the
    fact side.  The market share is a ratio of two conditional sums
    computed in ONE aggregate pass (no second scan, no self-join);
    both sums are exact integer cents, so the ratio — reported in
    parts-per-million — divides two exact integers and is IEEE-
    identical across engines."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    c = _t(spark, sf_dir, "customer")
    nc = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    s = _t(spark, sf_dir, "supplier")
    ns = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    nation_cents = F.sum(
        F.when(F.col("supp_nation") == "NATION_2", _CENTS()).otherwise(F.lit(0))
    )
    total_cents = F.sum(_CENTS())
    return (
        l.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nc), F.col("c_nk") == F.col("c_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("c_rk"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(ns), F.col("s_nk") == F.col("s_nationkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            nation_cents.alias("nation_cents"),
            total_cents.alias("total_cents"),
            F.round(1000000.0 * nation_cents / total_cents)
            .cast("long")
            .alias("mkt_share_ppm"),
        )
        .orderBy("o_year")
    )


@query(
    "q_tpch_q12",
    """
    SELECT l.l_returnflag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l.l_returnflag ORDER BY l.l_returnflag
    """,
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E6] TPC-H Q12 shape (shipping modes / order priority; the
    fixture has no l_shipmode, so l_returnflag stands in as the
    grouping dimension — same plan shape).  Both priority classes
    count in ONE aggregate pass over the join (FILTER-style
    conditional sums), the date band is pushed to the lineitem scan,
    and each side projects exactly the join key plus one column before
    the shuffle."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    ).select("l_orderkey", "l_returnflag")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_tpch_q15",
    """
    WITH rev AS (
      SELECT l_suppkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS total_rev_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, r.total_rev_cents
    FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev_cents = (SELECT max(total_rev_cents) FROM rev)
    ORDER BY s.s_suppkey
    """,
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E6] TPC-H Q15 (top supplier): the revenue "view" aggregates the
    fact ONCE (suppkey-keyed, map-side combined); its global max is a
    1-row aggregate broadcast back over the same tiny frame — the
    fact table is scanned exactly once, and ties (all suppliers at the
    max) are kept, which with exact integer cents is deterministic.
    At 100 TB the rev frame is #suppliers rows, so the max-join is a
    kilobyte broadcast, never a second fact pass."""
    rev = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy("l_suppkey")
        .agg(F.sum(_CENTS()).alias("total_rev_cents"))
    )
    top = rev.agg(F.max("total_rev_cents").alias("best"))
    return (
        _t(spark, sf_dir, "supplier")
        .join(rev, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(top), F.col("total_rev_cents") == F.col("best"))
        .select("s_suppkey", "s_name", "total_rev_cents")
        .orderBy("s_suppkey")
    )


@query(
    "q_tpch_q16",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#13'
      AND p.p_type NOT LIKE 'MEDIUM%'
      AND p.p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
      AND NOT EXISTS (SELECT 1 FROM supplier s
                      WHERE s.s_suppkey = l.l_suppkey
                        AND s.s_name LIKE '%7')
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E6] TPC-H Q16 shape (parts/supplier relationship; the fixture
    has no partsupp, so lineitem is the part↔supplier association —
    same plan shape, and count(DISTINCT suppkey) deduplicates the
    repeat pairs exactly as it deduplicates partsupp rows).  The
    "complaints" exclusion list (suppliers named ...7) is a LEFT ANTI
    join against a broadcast 10-row frame — the fact side is never
    exchanged for it; the selective part predicates push into the
    broadcast part dim before its join."""
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & ~F.col("p_type").like("MEDIUM%")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34)
    )
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_name").like("%7")).select(
        "s_suppkey"
    )
    return (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(bad, F.col("s_suppkey") == F.col("l_suppkey"), "left_anti")
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@query(
    "q_tpch_q21",
    """
    SELECT s.s_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o    ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate >= l1.l_shipdate)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 100
    """,
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E6] TPC-H Q21 shape (suppliers who kept orders waiting): the
    fixture has no commit/receipt dates, so "this supplier was late"
    becomes "this line's shipdate is strictly the latest in a
    multi-supplier order" — the same double-correlated EXISTS /
    NOT EXISTS self-join structure.  Both correlations are
    orderkey-equi joins with a suppkey-inequality residual: a LEFT
    SEMI then a LEFT ANTI against the same lineitem projection, so
    all three fact legs shuffle on the one orderkey key and AQE can
    reuse the exchange.  The final per-supplier count rides the
    broadcast supplier dim."""
    l1 = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    other = l1.select(
        F.col("l_orderkey").alias("x_orderkey"),
        F.col("l_suppkey").alias("x_suppkey"),
        F.col("l_shipdate").alias("x_shipdate"),
    )
    fl = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey"
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    waiting = (
        l1.join(fl, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .join(
            other,
            (F.col("x_orderkey") == F.col("l_orderkey"))
            & (F.col("x_suppkey") != F.col("l_suppkey")),
            "left_semi",
        )
        .join(
            other,
            (F.col("x_orderkey") == F.col("l_orderkey"))
            & (F.col("x_suppkey") != F.col("l_suppkey"))
            & (F.col("x_shipdate") >= F.col("l_shipdate")),
            "left_anti",
        )
    )
    return (
        waiting.join(sup, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


@query(
    "q_tpch_q22",
    """
    WITH sel AS (
      SELECT c_custkey, substring(c_name, 17, 2) AS cntrycode,
             CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents
      FROM customer
      WHERE substring(c_name, 17, 2) IN ('00', '12', '23', '34', '45', '56', '67')),
    stats AS (
      SELECT CAST(sum(acctbal_cents) AS BIGINT) AS pos_sum, count(*) AS pos_n
      FROM sel WHERE acctbal_cents > 0)
    SELECT cntrycode, count(*) AS numcust,
           CAST(sum(acctbal_cents) AS BIGINT) AS totacctbal_cents
    FROM sel, stats
    WHERE acctbal_cents * pos_n > pos_sum
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = sel.c_custkey)
    GROUP BY cntrycode ORDER BY cntrycode
    """,
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E6] TPC-H Q22 shape (global sales opportunity): country code =
    customer-name digits (the fixture's names are 'Customer#NNNNNNNNN',
    so chars 17-18 are the last two digits).  The "above average
    balance" scalar subquery is decorrelated into a 1-row aggregate
    broadcast back over the filtered frame, and the comparison is the
    EXACT integer cross-multiplication acctbal·n > Σ — no float
    average anywhere, so the survivor set is bit-deterministic in both
    engines.  "Never ordered" is a LEFT ANTI join on custkey (orders
    side projected to the key column only before the shuffle)."""
    sel = (
        _t(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            F.substring("c_name", 17, 2).alias("cntrycode"),
            F.round(F.col("c_acctbal") * 100).cast("long").alias("acctbal_cents"),
        )
        .filter(
            F.col("cntrycode").isin("00", "12", "23", "34", "45", "56", "67")
        )
    )
    stats = sel.filter(F.col("acctbal_cents") > 0).agg(
        F.sum("acctbal_cents").alias("pos_sum"), F.count(F.lit(1)).alias("pos_n")
    )
    o = _t(spark, sf_dir, "orders").select("o_custkey")
    return (
        sel.join(F.broadcast(stats))
        .filter(F.col("acctbal_cents") * F.col("pos_n") > F.col("pos_sum"))
        .join(o, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("acctbal_cents").alias("totacctbal_cents"),
        )
        .orderBy("cntrycode")
    )


@query(
    "q_tpch_q9",
    """
    WITH flat AS (
      SELECT ns.n_name AS nation, year(o.o_orderdate) AS o_year,
             CAST(round((l.l_extendedprice * (1 - l.l_discount)
                         - 0.5 * p.p_retailprice * l.l_quantity) * 100)
                  AS BIGINT) AS cents
      FROM lineitem l
      JOIN part p     ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%gear%'
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey)
    SELECT nation, o_year, CAST(sum(cents) AS BIGINT) AS profit_cents
    FROM flat GROUP BY 1, 2 ORDER BY nation, o_year DESC
    """,
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E6] TPC-H Q9 shape (product-type profit): the fixture has no
    partsupp, so unit cost is 0.5·p_retailprice — same 6-table plan
    shape, same per-row profit arithmetic.  Part (name-filtered),
    supplier, and nation all broadcast; the fact side shuffles only for
    the orders join and the (nation, year) aggregate.  Profit quantized
    to integer cents per row (can be negative — exactness matters more
    when signs cancel)."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    s = _t(spark, sf_dir, "supplier")
    ns = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation")
    )
    o = _t(spark, sf_dir, "orders")
    cents = F.round(
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
        )
        * 100
    ).cast("long")
    return (
        l.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(ns), F.col("s_nk") == F.col("s_nationkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(cents).alias("profit_cents"))
        .orderBy("nation", F.col("o_year").desc())
    )


@query(
    "q_tpch_q11",
    """
    WITH val AS (
      SELECT ns.n_name AS nation, l.l_partkey,
             CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                 * 100) AS BIGINT)) AS BIGINT) AS part_cents
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
      GROUP BY 1, 2),
    tot AS (
      SELECT nation, CAST(sum(part_cents) AS BIGINT) AS nation_cents
      FROM val GROUP BY nation)
    SELECT v.nation, v.l_partkey, v.part_cents
    FROM val v JOIN tot t ON v.nation = t.nation
    WHERE v.part_cents * 500 > t.nation_cents
    ORDER BY v.nation, v.part_cents DESC, v.l_partkey
    """,
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E6] TPC-H Q11 shape (important stock): per-(nation, part) value
    kept only when it exceeds 1/500 of that nation's total — the
    grouped-HAVING-against-a-group-total decorrelation.  The fact
    aggregates ONCE to the (nation, part) frame; the nation totals
    re-aggregate that tiny frame and broadcast back onto it, so the
    threshold compare is an exact integer cross-multiplication (no
    float fraction) and the fact table is never scanned twice."""
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    ns = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation")
    )
    val = (
        l.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(ns), F.col("s_nk") == F.col("s_nationkey"))
        .groupBy("nation", "l_partkey")
        .agg(F.sum(_CENTS()).alias("part_cents"))
    )
    tot = val.groupBy(F.col("nation").alias("t_nation")).agg(
        F.sum("part_cents").alias("nation_cents")
    )
    return (
        val.join(F.broadcast(tot), F.col("nation") == F.col("t_nation"))
        .filter(F.col("part_cents") * 500 > F.col("nation_cents"))
        .select("nation", "l_partkey", "part_cents")
        .orderBy("nation", F.col("part_cents").desc(), "l_partkey")
    )


@query(
    "q_tpch_q13",
    """
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
          FROM customer c
          LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                            AND o.o_orderpriority <> '5-LOW'
          GROUP BY c.c_custkey)
    GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """,
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E6] TPC-H Q13 (customer order-count distribution): LEFT OUTER
    join with a JOIN-CONDITION filter (not a WHERE — customers whose
    every order is excluded must still appear with count 0), then two
    stacked aggregations.  The priority predicate pushes into the
    orders scan (it is null-rejecting on the right side), the first
    count groups on the join key so it reuses the join's partitioning,
    and the distribution re-aggregates a #customers-sized frame."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "5-LOW"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "q_tpch_q17",
    """
    WITH stats AS (
      SELECT l_partkey,
             CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
               AS sum_centi,
             count(*) AS n
      FROM lineitem GROUP BY l_partkey)
    SELECT CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents,
           count(*) AS n_items
    FROM lineitem l
    JOIN part p  ON p.p_partkey = l.l_partkey
                AND p.p_brand = 'Brand#23' AND p.p_type = 'MEDIUM'
    JOIN stats s ON s.l_partkey = l.l_partkey
    WHERE CAST(round(l.l_quantity * 100) AS BIGINT) * 5 * s.n < s.sum_centi
    """,
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E6] TPC-H Q17 (small-quantity-order revenue): the correlated
    "quantity < 0.2 × this part's average" subquery decorrelated into a
    per-part (sum, count) aggregate joined back — and the 0.2×avg
    comparison is the exact integer cross-multiplication
    5·qty·n < Σqty, so no float average ever decides a row.  The stats
    aggregate combines map-side on partkey; the brand/type predicates
    prune the broadcast part dim before its join."""
    l = _t(spark, sf_dir, "lineitem")
    qcenti = F.round(F.col("l_quantity") * 100).cast("long")
    stats = l.groupBy(F.col("l_partkey").alias("s_partkey")).agg(
        F.sum(qcenti).alias("sum_centi"), F.count(F.lit(1)).alias("n")
    )
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#23") & (F.col("p_type") == "MEDIUM")
    )
    return (
        l.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(stats, F.col("s_partkey") == F.col("l_partkey"))
        .filter(qcenti * 5 * F.col("n") < F.col("sum_centi"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "revenue_cents"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q_tpch_q20",
    """
    WITH shipped AS (
      SELECT l.l_partkey, l.l_suppkey,
             CAST(sum(CAST(round(l.l_quantity * 100) AS BIGINT)) AS BIGINT)
               AS supp_centi
      FROM lineitem l
      WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate <  TIMESTAMP '1997-01-01'
      GROUP BY 1, 2),
    part_tot AS (
      SELECT l_partkey, CAST(sum(supp_centi) AS BIGINT) AS part_centi
      FROM shipped GROUP BY l_partkey),
    dominant AS (
      SELECT DISTINCT s.l_suppkey
      FROM shipped s
      JOIN part_tot t ON t.l_partkey = s.l_partkey
      JOIN part p     ON p.p_partkey = s.l_partkey AND p.p_name LIKE 'blue%'
      WHERE s.supp_centi * 2 > t.part_centi)
    SELECT sup.s_suppkey, sup.s_name
    FROM supplier sup JOIN dominant d ON d.l_suppkey = sup.s_suppkey
    ORDER BY sup.s_suppkey
    """,
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E6] TPC-H Q20 shape (potential part promotion): the fixture has
    no partsupp availqty, so "holds excess stock" becomes "shipped more
    than half of a blue part's 1996 volume" — the same nested
    IN-subquery pipeline: per-(part, supplier) aggregate, per-part
    total re-aggregated from it (never a second fact scan), an exact
    2·x > total integer compare, then DISTINCT supplier keys semi-joined
    to the supplier dim.  Every aggregate combines map-side; the date
    band is pushed to the one lineitem scan."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    qcenti = F.round(F.col("l_quantity") * 100).cast("long")
    shipped = l.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(qcenti).alias("supp_centi")
    )
    part_tot = shipped.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.sum("supp_centi").alias("part_centi")
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("blue%")).select(
        "p_partkey"
    )
    dominant = (
        shipped.join(part_tot, F.col("t_partkey") == F.col("l_partkey"))
        .join(p, F.col("p_partkey") == F.col("l_partkey"), "left_semi")
        .filter(F.col("supp_centi") * 2 > F.col("part_centi"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        _t(spark, sf_dir, "supplier")
        .join(dominant, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@query(
    "q_tpch_q2",
    """
    WITH cost AS (
      SELECT l.l_partkey, l.l_suppkey,
             CAST(min(CAST(round(l.l_extendedprice / l.l_quantity * 100)
                           AS BIGINT)) AS BIGINT) AS unit_cents
      FROM lineitem l GROUP BY 1, 2),
    eu AS (
      SELECT s.s_suppkey, s.s_name, s.s_acctbal, ns.n_name
      FROM supplier s
      JOIN nation ns ON ns.n_nationkey = s.s_nationkey
      JOIN region r  ON r.r_regionkey = ns.n_regionkey AND r.r_name = 'EUROPE'),
    best AS (
      SELECT c.l_partkey, min(c.unit_cents) AS best_cents
      FROM cost c JOIN eu ON eu.s_suppkey = c.l_suppkey
      GROUP BY c.l_partkey)
    SELECT CAST(round(eu.s_acctbal * 100) AS BIGINT) AS acctbal_cents,
           eu.s_name, eu.n_name, p.p_partkey, p.p_type, c.unit_cents
    FROM cost c
    JOIN eu   ON eu.s_suppkey = c.l_suppkey
    JOIN best b ON b.l_partkey = c.l_partkey AND c.unit_cents = b.best_cents
    JOIN part p ON p.p_partkey = c.l_partkey
                AND p.p_size = 15 AND p.p_type = 'LARGE'
    ORDER BY acctbal_cents DESC, eu.n_name, eu.s_name, p.p_partkey,
             eu.s_suppkey
    LIMIT 100
    """,
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E6] TPC-H Q2 shape (minimum-cost supplier): the fixture has no
    partsupp, so supply cost is the minimum observed unit price
    (extendedprice/quantity, integer cents) per (part, supplier) —
    same correlated-min-subquery plan: a per-part regional minimum
    decorrelated into an aggregate of the ALREADY-aggregated cost frame
    (the fact scans once), equi-joined back on (part, min) to keep
    every tying supplier deterministically.  The European supplier set
    and the size/type part filter ride broadcast dims; the final
    TOP-100 is a TakeOrdered under a total order."""
    l = _t(spark, sf_dir, "lineitem")
    unit = F.round(F.col("l_extendedprice") / F.col("l_quantity") * 100).cast(
        "long"
    )
    cost = l.groupBy("l_partkey", "l_suppkey").agg(F.min(unit).alias("unit_cents"))
    eu = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").select(
                    F.col("n_nationkey").alias("s_nk"), "n_name", "n_regionkey"
                )
            ),
            F.col("s_nk") == F.col("s_nationkey"),
        )
        .join(
            F.broadcast(
                _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
            ),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    eu_cost = cost.join(
        eu, F.col("s_suppkey") == F.col("l_suppkey")
    )
    best = eu_cost.groupBy(F.col("l_partkey").alias("b_partkey")).agg(
        F.min("unit_cents").alias("best_cents")
    )
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "LARGE")
    )
    return (
        eu_cost.join(
            best,
            (F.col("b_partkey") == F.col("l_partkey"))
            & (F.col("unit_cents") == F.col("best_cents")),
        )
        .join(p, F.col("p_partkey") == F.col("l_partkey"))
        .select(
            F.round(F.col("s_acctbal") * 100).cast("long").alias("acctbal_cents"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_type",
            "unit_cents",
        )
        .orderBy(
            F.col("acctbal_cents").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


@query(
    "q_asof_join_tolerance",
    """
    SELECT p.event_id, p.user_id,
           CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_ts,
           CASE WHEN c.ts IS NOT NULL
                 AND floor(epoch(p.ts)) - floor(epoch(c.ts)) <= 3600
                THEN c.event_id END AS click_event_id,
           CASE WHEN c.ts IS NOT NULL
                 AND floor(epoch(p.ts)) - floor(epoch(c.ts)) <= 3600
                THEN CAST(floor(epoch(c.ts)) AS BIGINT) END AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q_asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E8+] As-of join with a STALENESS BOUND: each purchase gets the
    user's most recent prior click ONLY if it happened within the last
    hour — the trade-quote-expiry semantics (a quote older than the
    tolerance must not price a trade).  Same single-shuffle
    union+window plan as q_asof_join; the tolerance is a stateless
    post-filter that NULLs expired matches while keeping the left row
    (left-join contract preserved).  DuckDB's ASOF JOIN has no native
    tolerance either — the oracle applies the identical CASE."""
    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_event_id"),
        F.col("user_id"),
        F.col("ts"),
        F.col("ts").cast("long").alias("click_ts"),
    )
    joined = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_value_cols=["click_event_id", "click_ts"],
    )
    within = F.col("click_ts").isNotNull() & (
        F.col("ts").cast("long") - F.col("click_ts") <= 3600
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("ts").cast("long").alias("purchase_ts"),
        F.when(within, F.col("click_event_id")).alias("click_event_id"),
        F.when(within, F.col("click_ts")).alias("click_ts"),
    )
