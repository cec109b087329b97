"""Aggregation operators (SURVEY.md §2.4 aggregation tier).

Scale posture: every groupBy below compiles to partial (map-side) + final
hash aggregation — verify `partial_` in .explain() — so the shuffle carries
pre-combined state, not raw rows.  Money sums go through DECIMAL so the
result is independent of partial-aggregation order (FIXTURES.md §6).
q_agg_bytes_by_type is the reference's metrics aggregation
(ServerSentEventClient.java:764-803: events.total / events.bytes /
events.byType) re-expressed as a query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..io import load_table, register_views
from ..registry import register


@register(
    "q_agg_global",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price,
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_price
    FROM lineitem
    """,
)
def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped aggregate; avg derived from the exact decimal sum so both
    engines divide identical numbers."""
    li = load_table(spark, sf_dir, "lineitem")
    sum_dec = F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
    return li.agg(
        F.count("*").alias("n_rows"),
        sum_dec.cast("double").alias("sum_price"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.round(sum_dec.cast("double") / F.count("*"), 6).alias("avg_price"),
    )


@register(
    "q_agg_groupby",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS count_order,
           SUM(l_quantity) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                AS DOUBLE) AS sum_disc_price,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_price
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style multi-measure hash aggregate (the engine's flagship
    relational aggregate)."""
    li = load_table(spark, sf_dir, "lineitem")
    sum_base = F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("count_order"),
        F.sum("l_quantity").alias("sum_qty"),
        sum_base.cast("double").alias("sum_base_price"),
        F.sum(
            (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
                "decimal(18,4)"
            )
        )
        .cast("double")
        .alias("sum_disc_price"),
        F.round(sum_base.cast("double") / F.count("*"), 6).alias("avg_price"),
    )


@register(
    "q_agg_count_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT l_partkey) AS n_part
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregates (expand + two-phase aggregate in Spark)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
    )


@register(
    "q_agg_filtered",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN o_orderstatus = 'F'
                         THEN CAST(o_totalprice AS DECIMAL(18,2))
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               AS finished_total,
           COUNT(CASE WHEN o_totalprice > 100000 THEN 1 END) AS n_big
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-clause aggregates in their portable CASE form."""
    o = load_table(spark, sf_dir, "orders")
    zero = F.lit(0).cast("decimal(18,2)")
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(
            F.when(
                F.col("o_orderstatus") == "F",
                F.col("o_totalprice").cast("decimal(18,2)"),
            ).otherwise(zero)
        )
        .cast("double")
        .alias("finished_total"),
        F.count(F.when(F.col("o_totalprice") > 100000, F.lit(1))).alias("n_big"),
    )


@register(
    "q_agg_having",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS cust_total
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 12
    """,
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation predicate (HAVING) — a filter above the aggregate."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("cust_total"),
        )
        .filter(F.col("n_orders") >= 12)
    )


@register(
    "q_agg_rollup",
    oracle="""
    SELECT r_name, n_name,
           GROUPING(r_name) * 2 + GROUPING(n_name) AS gid,
           COUNT(*) AS n
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals; gid spelled as explicit GROUPING bits so both
    engines agree on the encoding."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    j = n.join(r, n.n_regionkey == r.r_regionkey)
    return j.rollup("r_name", "n_name").agg(
        (F.grouping("r_name") * 2 + F.grouping("n_name")).alias("gid"),
        F.count("*").alias("n"),
    ).select("r_name", "n_name", "gid", "n")


@register(
    "q_agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid,
           COUNT(*) AS n,
           SUM(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two keys (all 4 grouping combinations)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        (F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus")).alias("gid"),
        F.count("*").alias("n"),
        F.sum("l_quantity").alias("sum_qty"),
    ).select("l_returnflag", "l_linestatus", "gid", "n", "sum_qty")


@register(
    "q_agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS gid,
           COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via Spark SQL over a registered view."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS gid,
               COUNT(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "q_agg_collect_sorted",
    oracle="""
    SELECT l_orderkey,
           array_to_string(list(l_linenumber ORDER BY l_linenumber), ',')
               AS lines,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_orderkey % 100 = 0
    GROUP BY l_orderkey
    """,
)
def q_agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """List aggregate, order-stabilized with sort_array (collect_list order
    is otherwise nondeterministic under parallel execution).  Emitted as a
    comma-joined string: list-typed cells are unhashable under the
    driver's pandas canonicalization."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    return li.groupBy("l_orderkey").agg(
        F.array_join(F.sort_array(F.collect_list("l_linenumber")), ",").alias(
            "lines"
        ),
        F.count("*").alias("n_lines"),
    )


@register(
    "q_agg_unpivot",
    oracle="""
    SELECT o_orderkey, 'o_totalprice' AS measure, o_totalprice AS value
    FROM orders WHERE o_orderkey % 10 = 0
    UNION ALL
    SELECT o_orderkey, 'o_custkey_d' AS measure, CAST(o_custkey AS DOUBLE)
    FROM orders WHERE o_orderkey % 10 = 0
    """,
)
def q_agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide→long melt); the oracle is its UNION ALL expansion —
    which is also the physical plan (Expand), so no shuffle at all."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    return o.withColumn(
        "o_custkey_d", F.col("o_custkey").cast("double")
    ).unpivot(
        ids=["o_orderkey"],
        values=["o_totalprice", "o_custkey_d"],
        variableColumnName="measure",
        valueColumnName="value",
    )


@register(
    "q_agg_min_max_by",
    oracle="""
    SELECT o_orderstatus,
           arg_max(o_orderkey, o_totalprice) AS priciest_order,
           arg_min(o_orderkey, o_totalprice) AS cheapest_order,
           MAX(o_totalprice) AS max_price,
           MIN(o_totalprice) AS min_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (argmax/argmin) aggregates.  Deterministic here
    because o_totalprice has no duplicates within a status group at the
    tested SFs (ties would be engine-defined)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("priciest_order"),
        F.min_by("o_orderkey", "o_totalprice").alias("cheapest_order"),
        F.max("o_totalprice").alias("max_price"),
        F.min("o_totalprice").alias("min_price"),
    )


@register(
    "q_agg_percentile",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
           ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price,
           ROUND(quantile_cont(l_extendedprice, 0.1), 6) AS p10_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (SQL PERCENTILE_CONT semantics — same
    linear-interpolation definition as DuckDB quantile_cont).

    Round 13: computed via percentile_cont_by_hist (codegen'd histogram
    + two-level prefix sum + Spark-formula interpolation, bit-identical
    results) instead of Spark's imperative `percentile`, whose per-group
    value→count map ran single-threaded over 5.5M distinct prices at
    sf1 (measured 16-24 s → ~4 s).  The sketch scale path remains
    percentile_approx (one pass, mergeable)."""
    li = load_table(spark, sf_dir, "lineitem")
    # Round 14: feed the selection an exact (flag, value) -> count
    # histogram instead of the raw corpus, so percentile_cont_by_hist's
    # two passes (bucket sums + candidate-bucket resolve) run over the
    # grid-bounded checkpointed histogram, not the corpus — one lineitem
    # scan per measure instead of two (the q_agg_mad round-14 rule;
    # identical weighted multiset -> bit-identical selection output).
    hq = (
        li.groupBy("l_returnflag", "l_quantity")
        .agg(F.count("*").cast("long").alias("w"))
        .persist()
    )
    hp = (
        li.groupBy("l_returnflag", "l_extendedprice")
        .agg(F.count("*").cast("long").alias("w"))
        .persist()
    )
    pq = percentile_cont_by_hist(
        hq, "l_returnflag", "l_quantity", "w", [0.5], ["mq"],
    )
    pp = percentile_cont_by_hist(
        hp, "l_returnflag", "l_extendedprice", "w", [0.9, 0.1],
        ["p90", "p10"],
    )
    return pq.join(pp, "l_returnflag").select(
        "l_returnflag",
        F.round("mq", 6).alias("median_qty"),
        F.round("p90", 6).alias("p90_price"),
        F.round("p10", 6).alias("p10_price"),
    )


@register(
    "q_agg_pivot",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 END) AS BIGINT) AS "F",
           CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 END) AS BIGINT) AS "O",
           CAST(SUM(CASE WHEN l_linestatus = 'P' THEN 1 END) AS BIGINT) AS "P"
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: status values become columns.  The value list is explicit —
    at scale an implicit pivot triggers an extra discovery pass over the
    data to enumerate columns."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )


@register(
    "q_scalar_subquery",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
    FROM orders o
    WHERE o.o_totalprice > 1.2 * (SELECT AVG(i.o_totalprice)
                                  FROM orders i
                                  WHERE i.o_custkey = o.o_custkey)
    """,
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (orders 20% above their customer's mean).
    Catalyst decorrelates this into an aggregate + rewritten join — no
    per-row subquery re-execution."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
        FROM orders o
        WHERE o.o_totalprice > 1.2 * (SELECT AVG(i.o_totalprice)
                                      FROM orders i
                                      WHERE i.o_custkey = o.o_custkey)
        """
    )


@register(
    "q_agg_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           TRUE AS approx_within_5pct
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate count-distinct (HyperLogLog++), the engine's scale path
    for distinct-cardinality on 100 TB.  The raw sketch estimate is
    implementation-defined, so the EXACT check is error-bounded: Spark
    emits a boolean asserting the HLL estimate (rsd=0.02) landed within
    5% of the exact count; the oracle asserts TRUE.  A drifting sketch
    fails the hash, a healthy one matches exactly."""
    from ..plans import spread

    # round 13: the two legs run as SEPARATE aggregations joined on the
    # group key.  Mixed in one agg, Catalyst's Expand strategy keys the
    # partial phase on (flag, partkey, gid) — allocating an HLL sketch
    # buffer per DISTINCT KEY, not per group (measured 17.7 s combined
    # vs 0.9 + 1.8 s split at sf1).  spread() parallelizes both legs'
    # map sides off the one-task scan (round-13 rule).
    li = spread(load_table(spark, sf_dir, "lineitem"), "l_partkey")
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts")
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts")
    )
    return approx.join(exact, "l_returnflag").select(
        "l_returnflag",
        "exact_parts",
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            <= 0.05 * F.col("exact_parts")
        ).alias("approx_within_5pct"),
    )


@register(
    "q_agg_stats",
    oracle="""
    SELECT l_returnflag,
           ROUND(stddev_samp(l_quantity), 4) AS sd_qty,
           ROUND(var_samp(l_quantity), 4) AS var_qty,
           ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates, rounded (both engines use numerically stable
    single-pass updates; agreement far exceeds the rounding grain)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
    )


@register(
    "q_agg_bytes_by_type",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(LENGTH(props)) AS BIGINT) AS total_bytes,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def q_agg_bytes_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's metrics counters (events.total / events.bytes /
    events.byType, ServerSentEventClient.java:764-803) as a declarative
    aggregate over the landed event stream."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.length("props")).alias("total_bytes"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "q_agg_percentile_approx",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS exact_p50,
           TRUE AS approx_within_1pct
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentile (Greenwald-Khanna sketch) — the one-pass
    mergeable scale path that q_agg_percentile's full-sort exact form
    documents.  Like q_agg_approx_distinct, the sketch value itself is
    implementation-defined, so the EXACT check is error-bounded: Spark
    emits a boolean asserting the sketch median landed within 1% of the
    exact interpolated median; the oracle asserts TRUE.

    Round 13: the exact reference median comes from
    percentile_cont_by_hist (bit-identical interpolation) instead of
    the imperative exact `percentile`, which buffered 5.5M distinct
    prices per group single-threaded next to the sketch."""
    li = load_table(spark, sf_dir, "lineitem")
    approx = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("approx")
    )
    # round 14: selection runs over the checkpointed exact-value
    # histogram (one corpus scan, not two — the q_agg_mad rule)
    hp = (
        li.groupBy("l_returnflag", "l_extendedprice")
        .agg(F.count("*").cast("long").alias("w"))
        .persist()
    )
    exact = percentile_cont_by_hist(
        hp, "l_returnflag", "l_extendedprice", "w", [0.5], ["p50_raw"],
    ).select("l_returnflag", F.round("p50_raw", 6).alias("exact_p50"))
    return approx.join(exact, "l_returnflag").select(
        "l_returnflag",
        "exact_p50",
        (
            F.abs(F.col("approx") - F.col("exact_p50"))
            <= 0.01 * F.abs(F.col("exact_p50"))
        ).alias("approx_within_1pct"),
    )


@register(
    "q_agg_bool_bit",
    oracle="""
    SELECT o_orderpriority,
           bool_and(o_totalprice > 1000) AS all_over_1k,
           bool_or(o_totalprice > 400000) AS any_over_400k,
           CAST(bit_and(o_orderkey) AS BIGINT) AS keys_bit_and,
           CAST(bit_or(o_orderkey % 16) AS BIGINT) AS mod_bit_or
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_agg_bool_bit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean (every/some) and bitwise (bit_and/bit_or) aggregates — the
    predicate-summary surface used for data-quality assertions at scale
    (one partial-agg shuffle; each carries constant state per group)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.every(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.some(F.col("o_totalprice") > 400000).alias("any_over_400k"),
        F.bit_and("o_orderkey").alias("keys_bit_and"),
        F.bit_or(F.col("o_orderkey") % 16).alias("mod_bit_or"),
    )


@register(
    "q_ts_gapfill",
    oracle="""
    WITH e AS (SELECT event_type, CAST(ts AS DATE) AS d, user_id
               FROM events),
    b AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM e),
    days AS (SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY))
                         AS DATE) AS d
             FROM b),
    types AS (SELECT DISTINCT event_type FROM e),
    daily AS (SELECT event_type, d,
                     COUNT(*) AS n_events,
                     COUNT(DISTINCT user_id) AS n_users
              FROM e GROUP BY event_type, d)
    SELECT t.event_type,
           CAST(days.d AS VARCHAR) AS day,
           COALESCE(daily.n_events, 0) AS n_events,
           COALESCE(daily.n_users, 0) AS n_users
    FROM types t CROSS JOIN days
    LEFT JOIN daily ON daily.event_type = t.event_type AND daily.d = days.d
    """,
)
def q_ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: a complete (event_type x day) date spine with
    zero-filled missing days — the dense-calendar shape dashboards and
    window functions need.  The spine is built from two 1-row/short
    aggregates (global min/max date, distinct types) cross-joined
    broadcast-side, so the only real shuffle is the daily aggregate of the
    fact table; the spine join is broadcast at any corpus scale because
    the spine is |types| x |days|, independent of row count."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("d"), "user_id"
    )
    bounds = e.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    days = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("d")
    )
    types = e.select("event_type").distinct()
    daily = e.groupBy("event_type", "d").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )
    spine = types.crossJoin(F.broadcast(days))
    # The spine is the PRESERVED side of the left join, and a broadcast
    # hash join cannot build the preserved side of an outer join, so the
    # spine itself cannot be the build side here.  Do NOT pin `daily`
    # either: today it is bounded by |types|x|days|, but a high-cardinality
    # type vocabulary would blow a forced broadcast — leave the strategy to
    # AQE, which broadcasts `daily` while it is small and degrades to a
    # shuffle join when it is not.
    return (
        spine.join(daily, ["event_type", "d"], "left")
        .select(
            "event_type",
            F.col("d").cast("string").alias("day"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("n_users", F.lit(0)).alias("n_users"),
        )
    )


@register(
    "q_agg_median_mode",
    oracle="""
    WITH counted AS (
      SELECT l_returnflag, l_quantity, COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag, l_quantity),
    best AS (
      SELECT l_returnflag, l_quantity, n,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY n DESC, l_quantity) AS rk
      FROM counted)
    SELECT m.l_returnflag,
           m.median_qty,
           b.l_quantity AS mode_qty,
           b.n AS mode_n
    FROM (SELECT l_returnflag, median(l_quantity) AS median_qty
          FROM lineitem GROUP BY l_returnflag) m
    JOIN best b ON b.l_returnflag = m.l_returnflag AND b.rk = 1
    """,
)
def q_agg_median_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median plus DETERMINISTIC mode (most frequent value, ties
    broken by smallest value — engine mode() functions break ties
    arbitrarily, so the mode is computed as count + rank, which also keeps
    it a two-shuffle mergeable plan instead of a full-sort per group).
    l_quantity is integral-valued, so median midpoints (.5) are exact in
    both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.median("l_quantity").alias("median_qty")
    )
    counted = li.groupBy("l_returnflag", "l_quantity").count()
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("count").desc(), "l_quantity"
    )
    best = (
        counted.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "l_returnflag",
            F.col("l_quantity").alias("mode_qty"),
            F.col("count").alias("mode_n"),
        )
    )
    return med.join(best, "l_returnflag")


@register(
    "q_agg_histogram",
    oracle="""
    SELECT CAST(LEAST(FLOOR(o_totalprice / 25000), 20) AS BIGINT) AS bucket,
           COUNT(*) AS n_orders,
           MIN(o_totalprice) AS lo_price,
           MAX(o_totalprice) AS hi_price
    FROM orders
    GROUP BY CAST(LEAST(FLOOR(o_totalprice / 25000), 20) AS BIGINT)
    """,
)
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram binning (floor division, top bucket clamped)
    — the profile-a-column primitive.  Pure partial+final aggregate on the
    bucket expression; FLOOR runs before the BIGINT cast on both sides
    because DuckDB's double->int cast ROUNDS while Spark's truncates."""
    o = load_table(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / 25000), F.lit(20)).cast(
        "long"
    )
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_totalprice").alias("lo_price"),
            F.max("o_totalprice").alias("hi_price"),
        )
    )


@register(
    "q_incremental_merge",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             COUNT(*) AS n, CAST(SUM(user_id) AS BIGINT) AS uid_sum
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    merged AS (
      SELECT event_type, CAST(SUM(n) AS BIGINT) AS n,
             CAST(SUM(uid_sum) AS BIGINT) AS uid_sum
      FROM daily GROUP BY event_type),
    direct AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(user_id) AS BIGINT) AS uid_sum
      FROM events GROUP BY event_type)
    SELECT m.event_type,
           m.n AS merged_n,
           m.uid_sum AS merged_uid_sum,
           m.n = dct.n AND m.uid_sum = dct.uid_sum AS matches_direct
    FROM merged m JOIN direct dct ON m.event_type = dct.event_type
    """,
)
def q_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregation, self-proving: per-day partial aggregates
    (the state an incremental 100 TB pipeline materializes per new
    partition) merged into totals, compared against the direct one-pass
    aggregate — `matches_direct` must be true for every group, which is
    exactly the mergeability property partial+final aggregation relies
    on.  Counts and integer sums are used so merge equality is exact (a
    float sum would be order-sensitive)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("d"), "user_id"
    )
    daily = e.groupBy("event_type", "d").agg(
        F.count("*").alias("n"), F.sum("user_id").alias("uid_sum")
    )
    merged = daily.groupBy("event_type").agg(
        F.sum("n").alias("n"), F.sum("uid_sum").alias("uid_sum")
    )
    direct = e.groupBy("event_type").agg(
        F.count("*").alias("dn"), F.sum("user_id").alias("duid_sum")
    )
    return merged.join(direct, "event_type").select(
        "event_type",
        F.col("n").alias("merged_n"),
        F.col("uid_sum").alias("merged_uid_sum"),
        (
            (F.col("n") == F.col("dn"))
            & (F.col("uid_sum") == F.col("duid_sum"))
        ).alias("matches_direct"),
    )


@register(
    "q_agg_hll_mergeable",
    oracle="""
    SELECT COUNT(DISTINCT l_partkey) AS exact_parts,
           TRUE AS merged_within_5pct,
           TRUE AS merge_commutes
    FROM lineitem
    """,
)
def q_agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABILITY of HLL sketches (hll_sketch_agg / hll_union_agg /
    hll_sketch_estimate, Spark 3.5 Datasketches): per-group sketches
    built independently, then unioned, must estimate the GLOBAL distinct
    count — the property that lets a 100 TB pipeline keep a tiny sketch
    per partition/day and answer corpus-wide cardinality by merging
    kilobytes instead of rescanning, the sketch analog of
    q_incremental_merge.  Error-bounded boolean check like
    q_agg_approx_distinct: the merged estimate lands within 5% of exact,
    and merging the same sketches grouped differently (by returnflag vs
    by linestatus) agrees bit-for-bit — union must not depend on how the
    data was partitioned."""
    li = load_table(spark, sf_dir, "lineitem")
    by_flag = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_partkey").alias("sk")
    )
    by_status = li.groupBy("l_linestatus").agg(
        F.hll_sketch_agg("l_partkey").alias("sk")
    )
    m_flag = by_flag.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    m_status = by_status.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = li.agg(F.countDistinct("l_partkey").alias("exact_parts"))
    return (
        exact.crossJoin(m_flag.withColumnRenamed("est", "est_flag"))
        .crossJoin(m_status.withColumnRenamed("est", "est_status"))
        .select(
            "exact_parts",
            (
                F.abs(F.col("est_flag") - F.col("exact_parts"))
                <= 0.05 * F.col("exact_parts")
            ).alias("merged_within_5pct"),
            (F.col("est_flag") == F.col("est_status")).alias("merge_commutes"),
        )
    )


@register(
    "q_agg_listagg",
    oracle="""
    SELECT o_orderstatus,
           string_agg(DISTINCT o_orderpriority, '|' ORDER BY o_orderpriority)
               AS priorities,
           COUNT(*) AS n
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (SQL:2023 LISTAGG, new in Spark 4): the
    distinct priorities of each status as one delimited string in
    deterministic order — the report/export shape string_agg serves in
    warehouse SQL.  Determinism matters: an unordered listagg is
    partition-order-dependent and would never hash-match; the WITHIN
    GROUP ordering makes it exact."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderstatus,
               listagg(DISTINCT o_orderpriority, '|')
                   WITHIN GROUP (ORDER BY o_orderpriority) AS priorities,
               COUNT(*) AS n
        FROM orders
        GROUP BY o_orderstatus
        """
    )


@register(
    "q_agg_kll_mergeable",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           TRUE AS median_rank_within_2pct,
           TRUE AS p90_rank_within_2pct
    FROM lineitem
    """,
)
def q_agg_kll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABILITY of KLL quantile sketches (kll_sketch_agg_double /
    kll_merge_agg_double, Spark 4 Datasketches) — the quantile analog of
    q_agg_hll_mergeable: per-group sketches built independently and then
    merged must answer GLOBAL quantile queries, which is how a 100 TB
    pipeline keeps per-day/per-partition sketch rows and serves
    corpus-wide percentiles by merging kilobytes.  Check is
    rank-error-bounded (the sketch's native guarantee): the TRUE rank of
    the merged sketch's q=0.5 / q=0.9 value estimates must land within
    2% of the requested rank (KLL default k=200 guarantees ~1.65%)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").cast("double").alias("v"), "l_returnflag"
    )
    per_group = li.groupBy("l_returnflag").agg(
        F.kll_sketch_agg_double("v").alias("sk")
    )
    merged = per_group.agg(F.kll_merge_agg_double("sk").alias("msk")).select(
        F.kll_sketch_get_quantile_double("msk", F.lit(0.5)).alias("est_p50"),
        F.kll_sketch_get_quantile_double("msk", F.lit(0.9)).alias("est_p90"),
    )
    est = merged.crossJoin(li)
    ranks = est.agg(
        F.count("*").alias("n_rows"),
        (
            F.sum((F.col("v") <= F.col("est_p50")).cast("long"))
            / F.count("*")
        ).alias("rank_p50"),
        (
            F.sum((F.col("v") <= F.col("est_p90")).cast("long"))
            / F.count("*")
        ).alias("rank_p90"),
    )
    return ranks.select(
        "n_rows",
        (F.abs(F.col("rank_p50") - 0.5) <= 0.02).alias(
            "median_rank_within_2pct"
        ),
        (F.abs(F.col("rank_p90") - 0.9) <= 0.02).alias("p90_rank_within_2pct"),
    )


@register(
    "q_agg_bitmap_distinct",
    oracle="""
    SELECT COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_partkey END)
               AS n_parts_returned
    FROM lineitem
    """,
)
def q_agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via mergeable bitmaps (Spark 3.5 bitmap_*):
    keys bucket by bitmap_bucket_number, each bucket builds a fixed-width
    bitmap map-side (bitmap_construct_agg), buckets OR together
    (bitmap_or_agg), popcounts sum (bitmap_count).  Unlike HLL this is
    exact AND mergeable — the pre-aggregated-rollup-table form of
    COUNT(DISTINCT) warehouses materialize; the shuffle carries one
    4 KB bitmap per bucket instead of every distinct key.  The oracle is
    plain COUNT(DISTINCT), pinning exactness."""
    li = load_table(spark, sf_dir, "lineitem")
    buckets = li.groupBy(
        F.bitmap_bucket_number("l_partkey").alias("bkt")
    ).agg(
        F.bitmap_construct_agg(
            F.bitmap_bit_position("l_partkey")
        ).alias("bm_all"),
        F.bitmap_construct_agg(
            F.when(
                F.col("l_returnflag") == "R",
                F.bitmap_bit_position("l_partkey"),
            )
        ).alias("bm_ret"),
    )
    return buckets.agg(
        F.sum(F.bitmap_count("bm_all")).alias("n_parts"),
        F.sum(F.bitmap_count("bm_ret")).alias("n_parts_returned"),
    )


@register(
    "q_agg_theta_overlap",
    oracle="""
    WITH flags AS (
      SELECT l_partkey,
             MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS in_r,
             MAX(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS in_a
      FROM lineitem GROUP BY l_partkey)
    SELECT CAST(SUM(in_r * in_a) AS BIGINT) AS exact_overlap,
           TRUE AS estimate_within_5pct
    FROM flags
    """,
)
def q_agg_theta_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta sketches answer what HLL cannot: SET ALGEBRA on distinct
    sets — here the intersection cardinality of two key populations
    (parts returned 'R' vs accepted 'A'), the audience-overlap /
    cross-corpus-contamination estimator.  Each side builds a sketch
    independently (mergeable, kilobytes), theta_intersection combines
    them, and the estimate must land within 5% of the exact overlap
    (error-bounded boolean, like the HLL/KLL mergeability ops).  At
    100 TB the exact form is a full groupBy over every key; the sketch
    form ships two sketch rows."""
    li = load_table(spark, sf_dir, "lineitem")
    sk = li.agg(
        F.theta_sketch_agg(
            F.when(F.col("l_returnflag") == "R", F.col("l_partkey"))
        ).alias("sk_r"),
        F.theta_sketch_agg(
            F.when(F.col("l_returnflag") == "A", F.col("l_partkey"))
        ).alias("sk_a"),
    ).select(
        F.theta_sketch_estimate(
            F.theta_intersection("sk_r", "sk_a")
        ).alias("est_overlap")
    )
    flags = li.groupBy("l_partkey").agg(
        F.max((F.col("l_returnflag") == "R").cast("int")).alias("in_r"),
        F.max((F.col("l_returnflag") == "A").cast("int")).alias("in_a"),
    )
    exact = flags.agg(
        F.sum(F.col("in_r") * F.col("in_a")).alias("exact_overlap")
    )
    return exact.crossJoin(sk).select(
        "exact_overlap",
        (
            F.abs(F.col("est_overlap") - F.col("exact_overlap"))
            <= 0.05 * F.col("exact_overlap")
        ).alias("estimate_within_5pct"),
    )


@register(
    "q_ts_downsample",
    oracle="""
    WITH t AS (
      SELECT event_type, date_trunc('hour', ts) AS b, value,
             ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS ra,
             ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rd
      FROM events)
    SELECT event_type,
           strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket,
           MAX(CASE WHEN ra = 1 THEN value END) AS open,
           MAX(CASE WHEN rd = 1 THEN value END) AS close,
           MAX(value) AS high,
           MIN(value) AS low,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
    FROM t
    GROUP BY event_type, b
    """,
)
def q_ts_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC time-series downsampling: resample an event stream to hourly
    bars per series (open/close by event time with an id tiebreak,
    high/low/volume as plain aggregates).  open/close come from a window
    rank rather than min_by/max_by so the pick is deterministic under ts
    ties across engines and retries.  The window and the groupBy share
    the same (event_type, hour) key, so Catalyst reuses ONE exchange for
    both; at 100 TB per-bucket state is a row counter — downsampling is
    the canonical pre-aggregation that shrinks a raw 100 TB series to a
    dashboard-size rollup.  open/close/high/low pass raw float64 through
    untouched (bit-identical in both engines); only the summed volume
    goes through DECIMAL for order-independence."""
    e = load_table(spark, sf_dir, "events")
    b = F.date_trunc("hour", F.col("ts"))
    wa = Window.partitionBy("event_type", "b").orderBy("ts", "event_id")
    wd = Window.partitionBy("event_type", "b").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    t = e.withColumn("b", b).select(
        "event_type",
        "b",
        "value",
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wd).alias("rd"),
    )
    return t.groupBy("event_type", "b").agg(
        F.max(F.when(F.col("ra") == 1, F.col("value"))).alias("open"),
        F.max(F.when(F.col("rd") == 1, F.col("value"))).alias("close"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("volume"),
    ).select(
        "event_type",
        F.date_format("b", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "open",
        "close",
        "high",
        "low",
        "n_events",
        "volume",
    )


# cohort retention offsets (days after the user's first-seen day)
RETENTION_OFFSETS = (1, 7)


@register(
    "q_retention_cohort",
    oracle="""
    WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
                 FROM events),
    first AS (SELECT user_id, MIN(d) AS cohort_day FROM act
              GROUP BY user_id),
    flags AS (
      SELECT f.cohort_day, f.user_id,
             MAX(CASE WHEN a.d = f.cohort_day + 1 THEN 1 ELSE 0 END) AS r1,
             MAX(CASE WHEN a.d = f.cohort_day + 7 THEN 1 ELSE 0 END) AS r7
      FROM first f JOIN act a ON a.user_id = f.user_id
      GROUP BY f.cohort_day, f.user_id)
    SELECT cohort_day,
           COUNT(*) AS n_users,
           CAST(SUM(r1) AS BIGINT) AS retained_d1,
           CAST(SUM(r7) AS BIGINT) AS retained_d7,
           ROUND(CAST(SUM(r1) AS DOUBLE) / COUNT(*), 6) AS rate_d1,
           ROUND(CAST(SUM(r7) AS DOUBLE) / COUNT(*), 6) AS rate_d7
    FROM flags GROUP BY cohort_day
    """,
)
def q_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by their first-seen day, with D+1
    and D+7 return rates — the second product-analytics staple (with
    q_funnel_stages) of the SSE -> analytics topology the reference
    feeds.  Activity is DISTINCT (user, day): multiple same-day events
    count once.

    100 TB posture: the distinct pass, the first-day aggregate, the
    self-join, and the per-user flag rollup are ALL keyed on user_id —
    one partitioning reused end-to-end (AQE may broadcast the
    |users|-sized first-day relation instead); the cohort rollup's
    shuffle is |cohort days| groups.  The (user, day) distinct relation
    feeds BOTH the first-day aggregate and the activity side of the
    join, so the column-pruned events scan runs twice (AQE plans
    broadcast branches as separate stages — the named
    no-cross-stage-reuse trap).  The rescan is deliberate: a
    localCheckpoint of the distinct relation measured as a fixed
    ~0.4 s overhead that LOSES to the pruned rescan at every tested
    tier (sf0.01: 0.392 vs 0.339 s; sf1 / 15.8 MB: 1.336 vs 0.959 s;
    table in PLANS.md); no fixture up to sf10 (182 MB of events)
    reaches a size where the checkpoint was shown to pay."""
    e = load_table(spark, sf_dir, "events")
    act = e.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    first = act.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    j = act.join(first, "user_id")
    flags = j.groupBy("cohort_day", "user_id").agg(
        F.max(
            F.when(
                F.col("d") == F.date_add(F.col("cohort_day"), 1), 1
            ).otherwise(0)
        ).alias("r1"),
        F.max(
            F.when(
                F.col("d") == F.date_add(F.col("cohort_day"), 7), 1
            ).otherwise(0)
        ).alias("r7"),
    )
    return flags.groupBy("cohort_day").agg(
        F.count("*").alias("n_users"),
        F.sum("r1").alias("retained_d1"),
        F.sum("r7").alias("retained_d7"),
        F.round(F.sum("r1").cast("double") / F.count("*"), 6).alias("rate_d1"),
        F.round(F.sum("r7").cast("double") / F.count("*"), 6).alias("rate_d7"),
    )


# z-score anomaly threshold on daily event-type counts
ANOMALY_Z = 2.0


@register(
    "q_anomaly_zscore_daily",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    stats AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS nd,
             CAST(SUM(n) AS DOUBLE) AS s1,
             CAST(SUM(n * n) AS DOUBLE) AS s2
      FROM daily GROUP BY event_type),
    z AS (
      SELECT daily.event_type, daily.d, daily.n,
             ROUND((daily.n - s.s1 / s.nd)
                   / SQRT((s.s2 - s.s1 * s.s1 / s.nd) / (s.nd - 1.0)),
                   6) AS z
      FROM daily JOIN stats s ON s.event_type = daily.event_type)
    SELECT event_type, CAST(d AS VARCHAR) AS day, n, z,
           ABS(z) > {ANOMALY_Z} AS is_anomaly
    FROM z
    """,
)
def q_anomaly_zscore_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-volume anomaly detection: per event type, each day's event
    count scored against that type's own daily distribution (sample
    z-score), |z| > {ANOMALY_Z} flagged — the ops-monitoring query a
    live SSE feed runs continuously.

    Cross-engine exactness: mean and variance derive from INTEGER sums
    (n, sum n, sum n²) through one fixed-order expression — no
    Welford-vs-naive accumulation difference can appear because no
    float ever accumulates; z is rounded to 6 and the flag thresholds
    the rounded value.

    100 TB posture: the corpus-sized stage is the (type, day)
    partial-agg count; stats roll up from that bounded relation and
    broadcast back onto it.  Day rendered as string (timezone-pinned
    DATE text) per FIXTURES.md §6."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count("*").alias("n"))
    stats = daily.groupBy("event_type").agg(
        F.count("*").cast("double").alias("nd"),
        F.sum("n").cast("double").alias("s1"),
        F.sum(F.col("n") * F.col("n")).cast("double").alias("s2"),
    )
    z = daily.join(broadcast(stats), "event_type").select(
        "event_type",
        "d",
        "n",
        F.round(
            (F.col("n") - F.col("s1") / F.col("nd"))
            / F.sqrt(
                (F.col("s2") - F.col("s1") * F.col("s1") / F.col("nd"))
                / (F.col("nd") - 1.0)
            ),
            6,
        ).alias("z"),
    )
    return z.select(
        "event_type",
        F.col("d").cast("string").alias("day"),
        "n",
        "z",
        (F.abs(F.col("z")) > ANOMALY_Z).alias("is_anomaly"),
    )


# Pareto / ABC classification boundaries on cumulative revenue share
ABC_A = 0.8
ABC_B = 0.95


@register(
    "q_pareto_abc",
    oracle=f"""
    WITH rev AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(18,4))) AS revenue
      FROM lineitem GROUP BY l_partkey),
    ranked AS (
      SELECT l_partkey, revenue,
             SUM(revenue) OVER (ORDER BY revenue DESC, l_partkey
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum,
             SUM(revenue) OVER () AS total
      FROM rev),
    classed AS (
      SELECT l_partkey, revenue,
             CASE WHEN cum <= total * {ABC_A} THEN 'A'
                  WHEN cum <= total * {ABC_B} THEN 'B'
                  ELSE 'C' END AS abc
      FROM ranked)
    SELECT abc,
           COUNT(*) AS n_parts,
           CAST(SUM(revenue) AS DOUBLE) AS class_revenue,
           ROUND(CAST(SUM(revenue) AS DOUBLE)
                 / CAST(ANY_VALUE(t.total) AS DOUBLE), 6) AS revenue_share
    FROM classed, (SELECT SUM(revenue) AS total FROM rev) t
    GROUP BY abc
    """,
)
def q_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC inventory classification: parts ranked by revenue,
    classed A (first {ABC_A:.0%} of cumulative revenue), B (to
    {ABC_B:.0%}), C (tail) — the 80/20 analysis every supply-chain /
    catalog team runs.

    Cross-engine exactness: per-row discounted revenue is DECIMAL(18,4)
    (the true product has <= 4 decimals, so nearest-grid cast recovers
    it exactly in both engines — q_agg_groupby idiom); the running
    cumulative sum is exact decimal, order-stable under the
    (revenue DESC, partkey) tiebreak, and class boundaries compare
    integer-scaled decimals (cum*100 <= total*80) — no float, no
    rounding-mode exposure anywhere.

    100 TB posture: the corpus-sized stage is the per-part partial-agg
    revenue rollup; the ranking window runs over the |parts|-bounded
    relation (dimension-sized — the documented swap at extreme part
    cardinality is percentile-sketch class boundaries, same contract)."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,4)"
            )
        ).alias("revenue")
    )
    w = (
        Window.partitionBy()
        .orderBy(F.col("revenue").desc(), "l_partkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy()
    ranked = rev.select(
        "l_partkey",
        "revenue",
        F.sum("revenue").over(w).alias("cum"),
        F.sum("revenue").over(wall).alias("total"),
    )
    classed = ranked.select(
        "l_partkey",
        "revenue",
        "total",
        F.when(F.col("cum") * 100 <= F.col("total") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("total") * 95, "B")
        .otherwise("C")
        .alias("abc"),
    )
    return classed.groupBy("abc").agg(
        F.count("*").alias("n_parts"),
        F.sum("revenue").cast("double").alias("class_revenue"),
        F.round(
            F.sum("revenue").cast("double")
            / F.any_value("total").cast("double"),
            6,
        ).alias("revenue_share"),
    )


RFM_QUARTILES = 4


@register(
    "q_rfm_segments",
    oracle=f"""
    WITH per AS (
      SELECT user_id,
             MAX(CAST(ts AS DATE)) AS last_d,
             COUNT(*) AS f,
             SUM(CAST(value AS DECIMAL(18,2))) AS m
      FROM events GROUP BY user_id),
    rfm AS (
      SELECT user_id, f, m,
             datediff('day', last_d, MAX(last_d) OVER ()) AS r
      FROM per),
    q AS (
      SELECT user_id, f, m, r,
             NTILE({RFM_QUARTILES}) OVER (ORDER BY r, user_id) AS r_q,
             NTILE({RFM_QUARTILES}) OVER (ORDER BY f DESC, user_id) AS f_q,
             NTILE({RFM_QUARTILES}) OVER (ORDER BY m DESC, user_id) AS m_q
      FROM rfm)
    SELECT r_q, f_q, m_q,
           COUNT(*) AS n_users,
           CAST(SUM(f) AS BIGINT) AS total_events,
           CAST(SUM(m) AS DOUBLE) AS total_value,
           CAST(SUM(user_id) AS BIGINT) AS ids_sum
    FROM q GROUP BY r_q, f_q, m_q
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per-user Recency (days since last
    event, vs the corpus max date), Frequency (event count), Monetary
    (exact DECIMAL value sum), each quartiled by ntile with user_id
    tiebreaks, rolled up per (R, F, M) cell — the marketing-analytics
    segmentation grid (with q_funnel_stages / q_retention_cohort /
    q_attribution_last_touch this completes the tier).  ids_sum pins
    that both engines put the SAME users in each cell.

    Cross-engine exactness: recency is integer date arithmetic,
    frequency integer, monetary exact DECIMAL(18,2) (values are 2dp);
    every ntile orders with a user_id tiebreak so quartile membership
    is rank-exact.

    100 TB posture: ONE corpus-sized partial-agg shuffle builds the
    per-user profile — the reference date is MAX(last_d) as a window
    over that relation, NOT a second corpus scan; the three ntile
    windows run over the |users|-bounded relation (dimension-sized; the
    IMPLEMENTED swap at extreme user cardinality is
    q_rfm_segments_approx — quartile boundaries from a one-pass
    quantile sketch, no global sort); the cell rollup is 4³ groups."""
    e = load_table(spark, sf_dir, "events")
    per = e.groupBy("user_id").agg(
        F.max(F.col("ts").cast("date")).alias("last_d"),
        F.count("*").alias("f"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("m"),
    )
    rfm = per.select(
        "user_id",
        "f",
        "m",
        F.datediff(
            F.max("last_d").over(Window.partitionBy()), F.col("last_d")
        ).alias("r"),
    )
    q = rfm.select(
        "user_id",
        "f",
        "m",
        F.ntile(RFM_QUARTILES)
        .over(Window.partitionBy().orderBy("r", "user_id"))
        .alias("r_q"),
        F.ntile(RFM_QUARTILES)
        .over(Window.partitionBy().orderBy(F.col("f").desc(), "user_id"))
        .alias("f_q"),
        F.ntile(RFM_QUARTILES)
        .over(Window.partitionBy().orderBy(F.col("m").desc(), "user_id"))
        .alias("m_q"),
    )
    return q.groupBy("r_q", "f_q", "m_q").agg(
        F.count("*").alias("n_users"),
        F.sum("f").alias("total_events"),
        F.sum("m").cast("double").alias("total_value"),
        F.sum("user_id").alias("ids_sum"),
    )


RFM_ACC = 10000  # sketch accuracy: rank error <= |users|/RFM_ACC


@register(
    "q_rfm_segments_approx",
    oracle="""
    SELECT t.dim,
           (SELECT COUNT(DISTINCT user_id) FROM events) AS n_users,
           TRUE AS ok_q1, TRUE AS ok_q2, TRUE AS ok_q3
    FROM (VALUES ('f'), ('m'), ('r')) AS t(dim)
    """,
)
def q_rfm_segments_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-boundary scale twin of q_rfm_segments (VERDICT r8 item 3,
    the q_agg_percentile -> q_agg_percentile_approx precedent): the
    three quartile cuts per dimension come from ONE-PASS mergeable
    quantile sketches (percentile_approx at accuracy {RFM_ACC}) over
    the per-user profile — quartile assignment is then the map-side
    expression 1 + (x > b1) + (x > b2) + (x > b3) (descending
    dimensions flip: 4 - Σ(x > b_k)) — no ntile, no SinglePartition
    sort, the form that survives 10⁸–10⁹ users.

    Like q_agg_percentile_approx, the boundary values are
    implementation-defined, so the EXACT check is error-bounded and
    TIE-ROBUST: for every dimension and every cut k the op emits the
    sketch's own rank guarantee — count(x < b_k) <= target_k + eps and
    count(x <= b_k) >= target_k - eps with target_k = ceil(k·n/4),
    eps = max(2, ceil(n/1000)) (10x the accuracy bound) — plus the
    exact n_users.  Cell membership at a boundary would differ between
    sketch implementations, which is exactly why the exact-ntile form
    (q_rfm_segments) remains the correctness twin at bounded SF.

    100 TB posture: one corpus-sized partial-agg shuffle builds the
    profile (localCheckpointed — both the boundary aggregate and the
    check aggregate consume it, the AQE no-cross-stage-reuse trap);
    the sketches and the checks are each one mergeable partial-agg
    pass over the |users|-bounded profile; output is 3 rows."""
    e = load_table(spark, sf_dir, "events")
    per = (
        e.groupBy("user_id")
        .agg(
            F.max(F.col("ts").cast("date")).alias("last_d"),
            F.count("*").cast("double").alias("f"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("m"),
        )
        .localCheckpoint(eager=True)
    )
    ref = per.agg(F.max("last_d").alias("ref_d"))
    prof = per.crossJoin(broadcast(ref)).select(
        F.datediff(F.col("ref_d"), F.col("last_d"))
        .cast("double")
        .alias("r"),
        "f",
        "m",
    )
    qs = [k / 4.0 for k in (1, 2, 3)]
    b = prof.agg(
        *[
            F.percentile_approx(c, qs, RFM_ACC).alias(f"{c}b")
            for c in ("r", "f", "m")
        ]
    )
    counts = prof.crossJoin(broadcast(b)).agg(
        F.count("*").alias("n"),
        *[
            F.sum(
                F.when(F.col(c) < F.col(f"{c}b")[i], 1).otherwise(0)
            ).alias(f"{c}_lt{i}")
            for c in ("r", "f", "m")
            for i in range(3)
        ],
        *[
            F.sum(
                F.when(F.col(c) <= F.col(f"{c}b")[i], 1).otherwise(0)
            ).alias(f"{c}_le{i}")
            for c in ("r", "f", "m")
            for i in range(3)
        ],
    )
    eps = F.greatest(F.lit(2), F.ceil(F.col("n") / F.lit(1000)))

    def dim_struct(c: str):
        oks = []
        for i in range(3):
            tgt = F.ceil(F.lit(i + 1) * F.col("n") / F.lit(4))
            oks.append(
                (
                    (F.col(f"{c}_lt{i}") <= tgt + eps)
                    & (F.col(f"{c}_le{i}") >= tgt - eps)
                ).alias(f"ok_q{i + 1}")
            )
        return F.struct(
            F.lit(c).alias("dim"), F.col("n").alias("n_users"), *oks
        )

    return counts.select(
        F.explode(
            F.array(dim_struct("f"), dim_struct("m"), dim_struct("r"))
        ).alias("s")
    ).select("s.*")


MAD_K = 1.4826  # normal-consistency scale for MAD
MAD_SIGMAS = 3.0


@register(
    "q_agg_mad",
    oracle=f"""
    WITH med AS (
      SELECT l_returnflag,
             ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS med
      FROM lineitem GROUP BY l_returnflag),
    dev AS (
      SELECT li.l_returnflag, med.med,
             ABS(li.l_extendedprice - med.med) AS adev
      FROM lineitem li JOIN med ON med.l_returnflag = li.l_returnflag),
    mad AS (
      SELECT l_returnflag,
             ANY_VALUE(med) AS med,
             ROUND(quantile_cont(adev, 0.5), 6) AS mad
      FROM dev GROUP BY l_returnflag)
    SELECT dev.l_returnflag,
           ANY_VALUE(mad.med) AS median_price,
           ANY_VALUE(mad.mad) AS mad_price,
           CAST(SUM(CASE WHEN dev.adev
                              > {MAD_SIGMAS} * {MAD_K} * mad.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev JOIN mad ON mad.l_returnflag = dev.l_returnflag
    GROUP BY dev.l_returnflag
    """,
)
def q_agg_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust dispersion + outlier counting via the median absolute
    deviation: per group, MAD = median(|x - median|), outliers = values
    beyond {MAD_SIGMAS} robust sigmas ({MAD_K} normal-consistency
    scale) — the heavy-tail-safe alternative to q_anomaly_zscore_daily's
    moment-based z-score (one extreme value moves a mean+stddev fence,
    but not a median+MAD fence).

    Cross-engine exactness: both medians are PERCENTILE_CONT semantics
    (q_agg_percentile parity), ROUNDED TO 6 DP AT THE POINT OF
    COMPUTATION (ADVICE r8 item 4, the x_dedup_semantic rounding
    discipline): adev derives from the rounded median and the outlier
    fence compares against the rounded MAD, so a one-ulp interpolation
    difference between the engines' percentile formulas cannot flip
    n_outliers.

    100 TB posture (round 13): ONE column-pruned pass builds the
    (flag, price) weight histogram; both medians run through
    percentile_cont_by_hist (two-level prefix sum — no per-group
    imperative value→count buffer, no single-threaded sort), and the
    outlier census is a weight sum over the histogram.  On the
    cents-granular price grid the histogram is grid-bounded, so every
    stage stays bounded at any corpus size; the sketch twin
    q_agg_mad_approx (one-pass mergeable percentile_approx) remains
    the continuous-measure scale path.  The median relations are
    |groups| rows and broadcast back."""
    li = load_table(spark, sf_dir, "lineitem")
    # Round 14 (VERDICT r13 item 4): ONE corpus pass total.  Round 13's
    # form ran percentile_cont_by_hist twice over the corpus plus a
    # third corpus pass for the outlier census — 5 lineitem scans.  But
    # every one of those passes is a pure function of the exact
    # (flag, price) -> count histogram: the med selection consumes a
    # weighted multiset (tie-insensitive by design), adev = |p - med|
    # is a function of the distinct price (med is a per-flag constant),
    # and the census is a weight sum over the same histogram.  So build
    # the exact-value histogram ONCE (map-side partial agg collapses
    # duplicates before the only corpus shuffle), persist it — the
    # compressed columnar cache, NOT localCheckpoint: the histogram is
    # ~26.7M rows at sf10 and deserialized checkpoint rows OOM a
    # default-8g driver (the q_agg_weighted_median measurement); its
    # size stays bounded by the cents price grid x |flags| at ANY
    # corpus size — and derive med, the deviation histogram, mad and
    # the census from that relation.  Every emitted double is the same
    # IEEE value: identical weighted multisets into the identical
    # selection arithmetic, identical |p - med| doubles, identical
    # census predicate — pinned by tests/test_percentile_hist.py.
    h = (
        li.groupBy("l_returnflag", "l_extendedprice")
        .agg(F.count("*").cast("long").alias("w"))
        .persist()
    )
    med = (
        percentile_cont_by_hist(
            h, "l_returnflag", "l_extendedprice", "w", [0.5], ["med_raw"]
        )
        .select("l_returnflag", F.round("med_raw", 6).alias("med"))
        .localCheckpoint(eager=True)
    )
    devh = h.join(broadcast(med), "l_returnflag").select(
        "l_returnflag",
        F.abs(F.col("l_extendedprice") - F.col("med")).alias("adev"),
        "w",
    )
    mad = (
        percentile_cont_by_hist(
            devh, "l_returnflag", "adev", "w", [0.5], ["mad_raw"]
        )
        .select("l_returnflag", F.round("mad_raw", 6).alias("mad"))
        .localCheckpoint(eager=True)
    )
    return (
        h.join(broadcast(med), "l_returnflag")
        .join(broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.any_value("med").alias("median_price"),
            F.any_value("mad").alias("mad_price"),
            F.sum(
                F.when(
                    F.abs(F.col("l_extendedprice") - F.col("med"))
                    > F.lit(MAD_SIGMAS) * F.lit(MAD_K) * F.col("mad"),
                    F.col("w"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


MAD_ACC = 10000  # sketch accuracy: rank error <= n_group/MAD_ACC


@register(
    "q_agg_mad_approx",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n_rows,
           TRUE AS ok_med, TRUE AS ok_mad
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_mad_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch scale twin of q_agg_mad (VERDICT r9 item 7, the
    q_rfm_segments_approx precedent): both medians come from ONE-PASS
    mergeable quantile sketches (percentile_approx at accuracy
    {MAD_ACC}) instead of Spark's exact `percentile`, whose
    value->count aggregation buffer per group is a memory hazard on a
    continuous measure at 100x — the sketch state is O(accuracy),
    corpus-size-independent, and merge-associative.

    Like the RFM twin, sketch boundary VALUES are implementation-
    defined, so the EXACT gate is error-bounded and tie-robust: the op
    emits, per group, the sketch's own rank guarantee for the median
    (count(x < m) <= ceil(n/2)+eps AND count(x <= m) >= ceil(n/2)-eps,
    eps = max(2, ceil(n/1000)) — 10x the configured rank error) and
    the same guarantee for the MAD within the |x - m| distribution
    derived from the sketched median, plus the exact group count.
    q_agg_mad remains the value-level correctness twin at bounded SF
    (its docstring pins the bounded-cardinality contract).

    100 TB posture: three column-pruned scans of the fact, each a
    map-side partial agg onto |groups| rows (median sketch + n, MAD
    sketch over adev, guarantee counts) with the |groups|-row boundary
    relations broadcast back — no per-group sort, no value->count
    buffer, no SinglePartition relation above |groups| rows."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    med = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(
            F.percentile_approx("l_extendedprice", 0.5, MAD_ACC), 6
        ).alias("med"),
    )
    # carry n/med THROUGH the MAD aggregation so `med` has exactly one
    # consumer — a separate med⋈mad join would make med's corpus scan
    # feed two broadcast stages and replay it (the AQE
    # no-cross-stage-reuse trap; caught by tools/plan_audit.py at 4
    # scans on the first draft)
    bounds = (
        li.join(broadcast(med), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.any_value("n").alias("n"),
            F.any_value("med").alias("med"),
            F.round(
                F.percentile_approx(
                    F.abs(F.col("l_extendedprice") - F.col("med")),
                    0.5,
                    MAD_ACC,
                ),
                6,
            ).alias("mad"),
        )
    )
    counts = (
        li.join(broadcast(bounds), "l_returnflag")
        .select(
            "l_returnflag",
            "n",
            "med",
            "mad",
            F.abs(F.col("l_extendedprice") - F.col("med")).alias("adev"),
            F.col("l_extendedprice").alias("x"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.any_value("n").alias("n"),
            F.sum(F.when(F.col("x") < F.col("med"), 1).otherwise(0)).alias(
                "x_lt"
            ),
            F.sum(F.when(F.col("x") <= F.col("med"), 1).otherwise(0)).alias(
                "x_le"
            ),
            F.sum(
                F.when(F.col("adev") < F.col("mad"), 1).otherwise(0)
            ).alias("a_lt"),
            F.sum(
                F.when(F.col("adev") <= F.col("mad"), 1).otherwise(0)
            ).alias("a_le"),
        )
    )
    eps = F.greatest(F.lit(2), F.ceil(F.col("n") / F.lit(1000)))
    tgt = F.ceil(F.col("n") / F.lit(2))
    return counts.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        ((F.col("x_lt") <= tgt + eps) & (F.col("x_le") >= tgt - eps)).alias(
            "ok_med"
        ),
        ((F.col("a_lt") <= tgt + eps) & (F.col("a_le") >= tgt - eps)).alias(
            "ok_mad"
        ),
    )


@register(
    "q_ts_ohlc",
    oracle="""
    SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           arg_min(value, printf('%020d|%012d',
                                 epoch_us(ts), event_id)) AS open,
           MAX(value) AS high, MIN(value) AS low,
           arg_max(value, printf('%020d|%012d',
                                 epoch_us(ts), event_id)) AS close,
           COUNT(*) AS n
    FROM events GROUP BY event_type, CAST(ts AS DATE)
    """,
)
def q_ts_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC (open/high/low/close) bars per event type — the
    time-series downsampling shape every monitoring / financial rollup
    uses, expressed as ONE partial-aggregating groupBy: open/close are
    min_by/max_by over the total (ts, event_id) order (never a window
    sort), high/low plain MIN/MAX.

    Cross-engine exactness: open/high/low/close pass fixture doubles
    through untouched (no arithmetic, so bit-identical); the ordering
    key is total (event_id breaks ts ties) — Spark orders by a
    (ts, event_id) struct, the oracle by the equivalent
    zero-padded '%020d|%012d' string, the same total order.

    100 TB posture: one corpus-sized partial-agg shuffle onto
    (type, day) groups; min_by/max_by carry constant state per group
    (value + key), so map-side combine does almost all the work.
    Measured honestly against the first/last_value window-sort form
    (tools/ab_ohlc_results.json, identical bars): at sf1 the window
    form is timing-NEUTRAL (1.11 s vs 1.31 s — the fixture has only
    ~150 dense groups, where a partition sort is cheap); the aggregate
    form is kept because its state is O(groups) while the window form sorts
    and materializes EVERY row per partition — at 10⁹-row groups the
    sort is the memory-and-spill hazard, the combine is not."""
    e = load_table(spark, sf_dir, "events")
    key = F.struct(F.col("ts"), F.col("event_id"))
    return e.groupBy(
        "event_type", F.col("ts").cast("date").cast("string").alias("day")
    ).agg(
        F.min_by("value", key).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", key).alias("close"),
        F.count("*").alias("n"),
    )


@register(
    "q_ts_wow_growth",
    oracle="""
    WITH wk AS (
      SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS w,
             COUNT(*) AS n
      FROM events GROUP BY event_type, date_trunc('week', ts))
    SELECT event_type, CAST(w AS VARCHAR) AS week_start, n,
           LAG(n) OVER (PARTITION BY event_type ORDER BY w) AS prev_n,
           ROUND(CAST(n AS DOUBLE)
                 / LAG(n) OVER (PARTITION BY event_type ORDER BY w)
                 - 1.0, 6) AS wow_growth
    FROM wk
    """,
)
def q_ts_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth per event type: weekly counts with a lag-1
    window and a growth ratio — the trend line every ops dashboard
    draws over the landed SSE stream.

    Cross-engine exactness: counts are integers; the single ratio is
    one fixed-order double division rounded to 6.

    100 TB posture: the corpus-sized stage is the (type, week)
    partial-agg count; the lag window runs over that BOUNDED relation
    (|types| x |weeks| rows), partitioned by type — never over raw
    events."""
    e = load_table(spark, sf_dir, "events")
    wk = e.groupBy(
        "event_type",
        F.date_trunc("week", F.col("ts")).cast("date").alias("w"),
    ).agg(F.count("*").alias("n"))
    win = Window.partitionBy("event_type").orderBy("w")
    return wk.select(
        "event_type",
        F.col("w").cast("string").alias("week_start"),
        "n",
        F.lag("n").over(win).alias("prev_n"),
        F.round(
            F.col("n").cast("double") / F.lag("n").over(win) - 1.0, 6
        ).alias("wow_growth"),
    )


@register(
    "q_ts_autocorr",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    pairs AS (
      SELECT a.event_type, a.n AS x, b.n AS y
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND b.d = a.d + 1),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS np,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx,
             CAST(SUM(y * y) AS DOUBLE) AS syy
      FROM pairs GROUP BY event_type)
    SELECT event_type, CAST(np AS BIGINT) AS n_pairs,
           ROUND((np * sxy - sx * sy)
                 / (SQRT(np * sxx - sx * sx)
                    * SQRT(np * syy - sy * sy)), 6) AS lag1_autocorr
    FROM s
    """,
)
def q_ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each event type's daily volume — the
    seasonality probe (is today's traffic predicted by yesterday's?)
    that complements q_anomaly_zscore_daily's point outliers.

    Cross-engine exactness: the anomaly-op discipline — every moment
    is an INTEGER sum over integer daily counts (n, Σx, Σy, Σxy, Σx²,
    Σy²) fed through one fixed-order double expression, rounded to 6;
    no float ever accumulates.

    100 TB posture: the corpus-sized stage is the (type, day)
    partial-agg count; the lag-1 self-join and the moment rollup run
    over that bounded relation (AQE broadcasts it)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count("*").alias("n"))
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        b,
        (F.col("b.event_type") == F.col("a.event_type"))
        & (F.col("b.d") == F.date_add(F.col("a.d"), 1)),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.n").alias("x"),
        F.col("b.n").alias("y"),
    )
    s = pairs.groupBy("event_type").agg(
        F.count("*").cast("double").alias("np"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    return s.select(
        "event_type",
        F.col("np").cast("long").alias("n_pairs"),
        F.round(
            (F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                F.sqrt(F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.sqrt(
                    F.col("np") * F.col("syy") - F.col("sy") * F.col("sy")
                )
            ),
            6,
        ).alias("lag1_autocorr"),
    )


@register(
    "q_agg_linreg",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                  AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2)))
                  AS DOUBLE) AS sxy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2)))
                  AS DOUBLE) AS sxx
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                 / n, 6) AS intercept
    FROM s
    """,
)
def q_agg_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS regression (price ~ quantity): slope and intercept
    from closed-form normal equations — the regr_slope/regr_intercept
    surface, rebuilt on EXACT DECIMAL moment sums instead of the
    engines' order-dependent double accumulators (Spark's regr_* and
    DuckDB's disagree in low bits run-to-run; DECIMAL sums are
    associative, so partial aggregation is exact at any cluster size).

    100 TB posture: one partial-agg shuffle carrying five DECIMAL
    accumulators per group — the moments ARE the mergeable state; the
    closed form is a |groups|-sized projection."""
    li = load_table(spark, sf_dir, "lineitem")
    dx = F.col("l_quantity").cast("decimal(18,2)")
    dy = F.col("l_extendedprice").cast("decimal(18,2)")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(dx).cast("double").alias("sx"),
        F.sum(dy).cast("double").alias("sy"),
        F.sum(dx * dy).cast("double").alias("sxy"),
        F.sum(dx * dx).cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_rows"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
    )


WELCH_A = "1-URGENT"
WELCH_B = "5-LOW"


@register(
    "q_agg_welch_t",
    oracle=f"""
    WITH s AS (
      SELECT o_orderpriority AS grp,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))
                      * CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DOUBLE) AS syy
      FROM orders WHERE o_orderpriority IN ('{WELCH_A}', '{WELCH_B}')
      GROUP BY o_orderpriority),
    ab AS (SELECT
             MAX(CASE WHEN grp = '{WELCH_A}' THEN n END) AS na,
             MAX(CASE WHEN grp = '{WELCH_A}' THEN sy END) AS sya,
             MAX(CASE WHEN grp = '{WELCH_A}' THEN syy END) AS syya,
             MAX(CASE WHEN grp = '{WELCH_B}' THEN n END) AS nb,
             MAX(CASE WHEN grp = '{WELCH_B}' THEN sy END) AS syb,
             MAX(CASE WHEN grp = '{WELCH_B}' THEN syy END) AS syyb
           FROM s)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           ROUND(sya / na, 6) AS mean_a, ROUND(syb / nb, 6) AS mean_b,
           ROUND((sya / na - syb / nb)
                 / SQRT(((syya - sya * sya / na) / (na - 1.0)) / na
                        + ((syyb - syb * syb / nb) / (nb - 1.0)) / nb),
                 6) AS welch_t
    FROM ab
    """,
)
def q_agg_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t statistic (unequal variances) between two
    order-priority cohorts' spend — the A/B-testing primitive a
    product-analytics stack runs over the landed stream.

    Cross-engine exactness: per-cohort moments are EXACT DECIMAL sums
    (the q_agg_linreg discipline); the t statistic is one fixed-order
    double expression over the six moments, rounded to 6.

    100 TB posture: one filtered partial-agg shuffle onto TWO groups
    (three DECIMAL accumulators each), then a 2-row pivot and a 1-row
    projection — the entire test is mergeable map-side state."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin(WELCH_A, WELCH_B)
    )
    dy = F.col("o_totalprice").cast("decimal(18,2)")
    s = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count("*").cast("double").alias("n"),
        F.sum(dy).cast("double").alias("sy"),
        F.sum(dy * dy).cast("double").alias("syy"),
    )
    ab = s.agg(
        F.max(F.when(F.col("grp") == WELCH_A, F.col("n"))).alias("na"),
        F.max(F.when(F.col("grp") == WELCH_A, F.col("sy"))).alias("sya"),
        F.max(F.when(F.col("grp") == WELCH_A, F.col("syy"))).alias("syya"),
        F.max(F.when(F.col("grp") == WELCH_B, F.col("n"))).alias("nb"),
        F.max(F.when(F.col("grp") == WELCH_B, F.col("sy"))).alias("syb"),
        F.max(F.when(F.col("grp") == WELCH_B, F.col("syy"))).alias("syyb"),
    )
    var_a = (F.col("syya") - F.col("sya") * F.col("sya") / F.col("na")) / (
        F.col("na") - 1.0
    )
    var_b = (F.col("syyb") - F.col("syb") * F.col("syb") / F.col("nb")) / (
        F.col("nb") - 1.0
    )
    return ab.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(F.col("sya") / F.col("na"), 6).alias("mean_a"),
        F.round(F.col("syb") / F.col("nb"), 6).alias("mean_b"),
        F.round(
            (F.col("sya") / F.col("na") - F.col("syb") / F.col("nb"))
            / F.sqrt(var_a / F.col("na") + var_b / F.col("nb")),
            6,
        ).alias("welch_t"),
    )


@register(
    "q_agg_entropy",
    oracle="""
    WITH c AS (
      SELECT CAST(ts AS DATE) AS d, event_type, COUNT(*) AS cnt
      FROM events GROUP BY CAST(ts AS DATE), event_type),
    t AS (
      SELECT d,
             CAST(SUM(cnt) AS BIGINT) AS n,
             SUM(CAST(ROUND(cnt * LN(cnt), 6) AS DECIMAL(28,6))) AS sclogc
      FROM c GROUP BY d)
    SELECT CAST(d AS VARCHAR) AS day, n,
           ROUND(LN(n) - CAST(sclogc AS DOUBLE) / n, 6) AS type_entropy
    FROM t
    """,
)
def q_agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the daily event-type mix — the
    distribution-drift one-liner (entropy collapse = one type is
    flooding; entropy spike = mix shift) over the landed SSE stream,
    via the identity H = ln(n) - (Σ c·ln c)/n so only counts enter.

    Cross-engine exactness: each c·ln(c) term is rounded to 6 and
    CARRIED AS DECIMAL(28,6), so the per-day sum is associative and
    order-free (the documented DECIMAL-carry discipline); one double
    expression at the end, rounded to 6.

    100 TB posture: one corpus-sized partial-agg shuffle onto
    (day, type) groups; the entropy rollup runs over that bounded
    relation onto |days| groups."""
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy(
        F.col("ts").cast("date").alias("d"), "event_type"
    ).agg(F.count("*").alias("cnt"))
    t = c.groupBy("d").agg(
        F.sum("cnt").alias("n"),
        F.sum(
            F.round(F.col("cnt") * F.log(F.col("cnt")), 6).cast(
                "decimal(28,6)"
            )
        ).alias("sclogc"),
    )
    return t.select(
        F.col("d").cast("string").alias("day"),
        "n",
        F.round(
            F.log(F.col("n")) - F.col("sclogc").cast("double") / F.col("n"),
            6,
        ).alias("type_entropy"),
    )


@register(
    "q_user_stickiness",
    oracle="""
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
                FROM events),
    m AS (
      SELECT CAST(date_trunc('month', d) AS DATE) AS mon,
             COUNT(*) AS sum_dau,
             COUNT(DISTINCT d) AS n_days,
             COUNT(DISTINCT user_id) AS mau
      FROM ud GROUP BY date_trunc('month', d))
    SELECT CAST(mon AS VARCHAR) AS month, sum_dau, n_days, mau,
           ROUND(CAST(sum_dau AS DOUBLE) / n_days / mau, 6) AS stickiness
    FROM m
    """,
)
def q_user_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per month (mean daily actives over monthly
    actives) — the engagement ratio that, with q_retention_cohort and
    q_funnel_stages, rounds out the product-analytics tier.

    Cross-engine exactness: all counts integer (distinct user-days,
    observed days, distinct users); one double expression rounded 6.

    100 TB posture: the corpus-sized stage is the DISTINCT
    (user, day) pass (partial-agg'd); the month rollup groups that
    relation onto |months| rows — the two distinct counts inside it
    are per-month exact distincts over the already-distinct relation
    (expand + partial agg, no second corpus scan)."""
    e = load_table(spark, sf_dir, "events")
    ud = e.select(
        "user_id", F.col("ts").cast("date").alias("d")
    ).distinct()
    m = ud.groupBy(
        F.date_trunc("month", F.col("d")).cast("date").alias("mon")
    ).agg(
        F.count("*").alias("sum_dau"),
        F.count_distinct("d").alias("n_days"),
        F.count_distinct("user_id").alias("mau"),
    )
    return m.select(
        F.col("mon").cast("string").alias("month"),
        "sum_dau",
        "n_days",
        "mau",
        F.round(
            F.col("sum_dau").cast("double") / F.col("n_days") / F.col("mau"),
            6,
        ).alias("stickiness"),
    )


@register(
    "q_agg_hhi",
    oracle="""
    WITH c AS (
      SELECT CAST(ts AS DATE) AS d, user_id, COUNT(*) AS c
      FROM events GROUP BY CAST(ts AS DATE), user_id)
    SELECT CAST(d AS VARCHAR) AS day,
           CAST(SUM(c) AS BIGINT) AS n_events,
           COUNT(*) AS n_users,
           ROUND(CAST(SUM(c * c) AS DOUBLE)
                 / (CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE)),
                 6) AS hhi
    FROM c GROUP BY d
    """,
)
def q_agg_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily Herfindahl-Hirschman concentration of user activity: HHI =
    Σ share² = (Σ c²) / (Σ c)² over per-user daily event counts — the
    concentration one-liner that flags bot floods (one user dominating
    a day drives HHI toward 1) where q_agg_entropy flags type-mix
    drift.

    Cross-engine exactness: both moments are INTEGER sums (Σc, Σc²);
    one fixed-order double expression rounded to 6 — the
    q_ts_autocorr discipline.

    100 TB posture: one corpus-sized (day, user) partial-agg count,
    then a |days|-group rollup carrying two integer accumulators."""
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy(
        F.col("ts").cast("date").alias("d"), "user_id"
    ).agg(F.count("*").alias("c"))
    return c.groupBy("d").agg(
        F.sum("c").alias("n_events"),
        F.count("*").alias("n_users"),
        F.round(
            F.sum(F.col("c") * F.col("c")).cast("double")
            / (F.sum("c").cast("double") * F.sum("c").cast("double")),
            6,
        ).alias("hhi"),
    ).select(
        F.col("d").cast("string").alias("day"),
        "n_events",
        "n_users",
        "hhi",
    )


EWMA_ALPHA = 0.5


@register(
    "q_ts_ewma",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    series AS (
      SELECT event_type,
             COUNT(*) AS n_days,
             list(CAST(n AS DOUBLE) ORDER BY d) AS l
      FROM daily GROUP BY event_type)
    SELECT event_type, n_days,
           list_reduce(l, (acc, x) -> ROUND({EWMA_ALPHA} * x
                                            + {1 - EWMA_ALPHA} * acc, 6))
               AS ewma_last
    FROM series
    """,
)
def q_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of each type's daily volume
    (α = {EWMA_ALPHA}, seeded at the first day, final smoothed value
    reported) — the sequential-recurrence time-series primitive
    (EWMA/Holt smoothing share this fold shape), expressed as an
    ordered-array FOLD per group: the per-type daily series is bounded
    (|days| elements), so collecting it into a sorted array and folding
    with F.aggregate is the scale-correct form — the recurrence runs
    inside one row per GROUP, never as a global sequential pass.

    Cross-engine exactness: the fold re-rounds to 6 at EVERY step (the
    x_embed_pca_power trajectory discipline) and both engines fold the
    same explicitly ORDERED array left-to-right (Spark F.aggregate =
    DuckDB list_reduce, both seeded with the first element).

    100 TB posture: one corpus-sized (type, day) partial-agg count;
    the collect_list is |days|-bounded per type; the fold is a map-side
    expression over the |types|-row relation."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count("*").alias("n"))
    series = daily.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.array_sort(
            F.collect_list(F.struct("d", F.col("n").cast("double").alias("n")))
        ).alias("sl"),
    ).select("event_type", "n_days", F.col("sl.n").alias("l"))
    return series.select(
        "event_type",
        "n_days",
        F.aggregate(
            F.slice(F.col("l"), 2, F.size("l") - 1),
            F.element_at(F.col("l"), 1),
            lambda acc, x: F.round(
                F.lit(EWMA_ALPHA) * x + F.lit(1 - EWMA_ALPHA) * acc, 6
            ),
        ).alias("ewma_last"),
    )


TOPN_SHARE = 10


@register(
    "q_agg_topn_share",
    oracle=f"""
    WITH c AS (
      SELECT CAST(ts AS DATE) AS d, user_id, COUNT(*) AS c
      FROM events GROUP BY CAST(ts AS DATE), user_id),
    r AS (
      SELECT d, c,
             ROW_NUMBER() OVER (PARTITION BY d
                                ORDER BY c DESC, user_id) AS rk
      FROM c)
    SELECT CAST(d AS VARCHAR) AS day,
           CAST(SUM(c) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN rk <= {TOPN_SHARE} THEN c ELSE 0 END)
                AS BIGINT) AS topn_events,
           ROUND(CAST(SUM(CASE WHEN rk <= {TOPN_SHARE} THEN c ELSE 0 END)
                      AS DOUBLE) / SUM(c), 6) AS topn_share
    FROM r GROUP BY d
    """,
)
def q_agg_topn_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N concentration per day: the share of each day's events
    produced by its {TOPN_SHARE} most active users — the whale/bot
    dashboard number that q_agg_hhi summarizes as one index, here with
    the explicit head/tail split (rank ties break on user_id).

    100 TB posture: one corpus-sized (day, user) partial-agg count;
    the ranking window partitions BY DAY over that bounded relation —
    per-partition sort of users-active-that-day, never a global sort —
    and Spark's WindowGroupLimit pushes the rank<=N cut into it; the
    final rollup is |days| groups."""
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy(
        F.col("ts").cast("date").alias("d"), "user_id"
    ).agg(F.count("*").alias("c"))
    w = Window.partitionBy("d").orderBy(F.col("c").desc(), "user_id")
    r = c.select("d", "c", F.row_number().over(w).alias("rk"))
    return r.groupBy("d").agg(
        F.sum("c").alias("n_events"),
        F.sum(F.when(F.col("rk") <= TOPN_SHARE, F.col("c")).otherwise(0)).alias(
            "topn_events"
        ),
        F.round(
            F.sum(
                F.when(F.col("rk") <= TOPN_SHARE, F.col("c")).otherwise(0)
            ).cast("double")
            / F.sum("c"),
            6,
        ).alias("topn_share"),
    ).select(
        F.col("d").cast("string").alias("day"),
        "n_events",
        "topn_events",
        "topn_share",
    )


HOLT_ALPHA = 0.5  # level smoothing — binary-exact (1/2)
HOLT_BETA = 0.25  # trend smoothing — binary-exact (1/4)
HOLT_SCALE = 1_000_000  # state carried in integer micro-units


@register(
    "q_ts_holt",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    series AS (
      SELECT event_type,
             COUNT(*) AS n_days,
             list_transform(list(CAST(n AS DOUBLE) ORDER BY d),
                            x -> [x * {HOLT_SCALE}, 0.0, 0.0]) AS le
      FROM daily GROUP BY event_type HAVING COUNT(*) >= 2),
    fin AS (
      SELECT event_type, n_days,
             list_reduce(le, (acc, e) -> CASE
               WHEN acc[3] = 0.0
               THEN [acc[1], e[1] - acc[1], 1.0]
               ELSE [ROUND({HOLT_ALPHA} * e[1]
                           + {1 - HOLT_ALPHA} * (acc[1] + acc[2]), 0),
                     ROUND({HOLT_BETA}
                             * (ROUND({HOLT_ALPHA} * e[1]
                                      + {1 - HOLT_ALPHA}
                                        * (acc[1] + acc[2]), 0)
                                - acc[1])
                           + {1 - HOLT_BETA} * acc[2], 0),
                     acc[3] + 1.0] END) AS st
      FROM series)
    SELECT event_type, n_days,
           st[1] / {HOLT_SCALE} AS level,
           st[2] / {HOLT_SCALE} AS trend,
           (st[1] + st[2]) / {HOLT_SCALE} AS forecast_1
    FROM fin
    """,
)
def q_ts_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + linear trend,
    α={HOLT_ALPHA}, β={HOLT_BETA}) of each type's daily volume, seeded
    l₁=x₁, b₁=x₂−x₁, with the one-step-ahead forecast — the trend-aware
    upgrade of q_ts_ewma's recurrence, same ordered-array FOLD shape:
    the state is a (level, trend) pair threaded through F.aggregate
    per group, never a global sequential pass.

    Cross-engine exactness — the fold state is EXACT-INTEGER
    micro-units (×{HOLT_SCALE}), not re-rounded doubles: the q_ts_ewma
    6-dp re-round discipline is systematically hazardous for
    multi-component folds because every step's output sits ON the
    decimal grid, so the NEXT round call is always near a tie boundary
    where Spark (exact BigDecimal HALF_UP) and DuckDB (×1e6
    double-multiply round) can split one ulp apart — observed live on
    this op's first draft.  With α=1/2 and β=1/4 every product of an
    integer state is a binary-EXACT multiple of 0.25, the only
    rounding is ROUND(exact_value, 0) whose .5 ties both engines
    resolve half-away-from-zero, and the state stays integral — the
    engines cannot diverge.  The output division by {HOLT_SCALE} is
    the same two exact operands in both engines, hence bit-identical.

    100 TB posture: one corpus-sized (type, day) partial-agg count;
    the collect_list is |days|-bounded per type; the fold is a
    map-side expression over the |types|-row relation.  (DuckDB 1.0's
    list_reduce is 2-arg — accumulator type == element type, seeded
    with the first element — so the oracle folds uniform
    [x·scale, state, counter] triples with a seed-detect CASE; Spark
    folds a proper struct via F.aggregate's explicit init.)"""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count("*").alias("n"))
    series = (
        daily.groupBy("event_type")
        .agg(
            F.count("*").alias("n_days"),
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "d",
                        (F.col("n").cast("double") * HOLT_SCALE).alias("n"),
                    )
                )
            ).alias("sl"),
        )
        .filter(F.col("n_days") >= 2)
        .select("event_type", "n_days", F.col("sl.n").alias("l"))
    )

    def step(acc, x):
        new_lv = F.round(
            F.lit(HOLT_ALPHA) * x
            + F.lit(1 - HOLT_ALPHA) * (acc["lv"] + acc["tr"]),
            0,
        )
        return F.struct(
            new_lv.alias("lv"),
            F.round(
                F.lit(HOLT_BETA) * (new_lv - acc["lv"])
                + F.lit(1 - HOLT_BETA) * acc["tr"],
                0,
            ).alias("tr"),
        )

    st = F.aggregate(
        F.slice(F.col("l"), 3, F.greatest(F.size("l") - 2, F.lit(0))),
        F.struct(
            F.element_at(F.col("l"), 1).alias("lv"),
            (F.element_at(F.col("l"), 2) - F.element_at(F.col("l"), 1)).alias(
                "tr"
            ),
        ),
        step,
    )
    return series.select(
        "event_type",
        "n_days",
        (st["lv"] / HOLT_SCALE).alias("level"),
        (st["tr"] / HOLT_SCALE).alias("trend"),
        ((st["lv"] + st["tr"]) / HOLT_SCALE).alias("forecast_1"),
    )


CUSUM_H = 4.0  # alert threshold in units of the series stddev


@register(
    "q_ts_cusum",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    series AS (
      SELECT event_type,
             COUNT(*) AS n_days,
             CAST(SUM(n) AS BIGINT) AS s1,
             CAST(SUM(n * n) AS BIGINT) AS s2,
             list(CAST(n AS DOUBLE) ORDER BY d) AS l
      FROM daily GROUP BY event_type HAVING COUNT(*) >= 2),
    params AS (
      SELECT *,
             ROUND(CAST(s1 AS DOUBLE) / n_days, 6) AS mu,
             ROUND(sqrt((CAST(s2 AS DOUBLE)
                         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_days)
                        / (n_days - 1)), 6) AS sd
      FROM series),
    fin AS (
      SELECT event_type, n_days, mu, sd,
             list_reduce(
               list_prepend([0.0, 0.0],
                            list_transform(l, x -> [x, 0.0])),
               (acc, e) -> [
                 GREATEST(0.0, acc[1] + n_days * e[1] - s1),
                 acc[2] + CASE WHEN GREATEST(0.0,
                                             acc[1] + n_days * e[1] - s1)
                                    > {CUSUM_H} * sd * n_days
                               THEN 1.0 ELSE 0.0 END]) AS st
      FROM params)
    SELECT event_type, n_days, mu AS mean_daily, sd AS sd_daily,
           st[1] / n_days AS cusum_final, CAST(st[2] AS BIGINT) AS n_alerts
    FROM fin
    """,
)
def q_ts_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detector on each type's daily volume:
    s_i = max(0, s_(i-1) + x_i − μ) with μ the series' own mean, alert
    when s exceeds {CUSUM_H}·σ — the classic sequential change-point
    statistic (Page 1954), third member of the ordered-array-fold
    family (q_ts_ewma, q_ts_holt): the running sum AND the alert count
    thread through one two-slot fold per group.

    Cross-engine exactness — the q_ts_holt integer-state discipline:
    the fold carries S_i = n·s_i = max(0, S_(i-1) + n·x_i − Σx), which
    is EXACT integer arithmetic with no rounding anywhere in the loop
    (daily counts are integers).  The alert compare S > {CUSUM_H}·σ·n
    pits that exact integer against a threshold both engines compute
    through the identical expression from identical inputs (the
    once-rounded σ) — IEEE doubles are deterministic, so an identical
    op sequence cannot split.  μ and σ come from exact BIGINT moment
    sums, rounded once at 6 (the single-shot round every aggregate op
    uses); the final s = S/n division is the same two exact operands
    in both engines.

    100 TB posture: identical to q_ts_holt — one (type, day)
    partial-agg count, |days|-bounded arrays, map-side fold over
    |types| rows.  The oracle prepends a [0,0] zero-state element so
    DuckDB's 2-arg list_reduce still processes every observation."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count("*").alias("n"))
    series = (
        daily.groupBy("event_type")
        .agg(
            F.count("*").alias("n_days"),
            F.sum("n").alias("s1"),
            F.sum(F.col("n") * F.col("n")).alias("s2"),
            F.array_sort(
                F.collect_list(
                    F.struct("d", F.col("n").cast("double").alias("n"))
                )
            ).alias("sl"),
        )
        .filter(F.col("n_days") >= 2)
        .select("event_type", "n_days", "s1", "s2", F.col("sl.n").alias("l"))
    )
    params = series.select(
        "*",
        F.round(F.col("s1").cast("double") / F.col("n_days"), 6).alias("mu"),
        F.round(
            F.sqrt(
                (
                    F.col("s2").cast("double")
                    - F.col("s1").cast("double")
                    * F.col("s1").cast("double")
                    / F.col("n_days")
                )
                / (F.col("n_days") - 1)
            ),
            6,
        ).alias("sd"),
    )

    def step(acc, x):
        new_s = F.greatest(
            F.lit(0.0),
            acc["s"] + F.col("n_days") * x - F.col("s1"),
        )
        return F.struct(
            new_s.alias("s"),
            (
                acc["a"]
                + F.when(
                    F.greatest(
                        F.lit(0.0),
                        acc["s"] + F.col("n_days") * x - F.col("s1"),
                    )
                    > F.lit(CUSUM_H) * F.col("sd") * F.col("n_days"),
                    F.lit(1.0),
                ).otherwise(F.lit(0.0))
            ).alias("a"),
        )

    st = F.aggregate(
        F.col("l"),
        F.struct(F.lit(0.0).alias("s"), F.lit(0.0).alias("a")),
        step,
    )
    return params.select(
        "event_type",
        "n_days",
        F.col("mu").alias("mean_daily"),
        F.col("sd").alias("sd_daily"),
        (st["s"] / F.col("n_days")).alias("cusum_final"),
        st["a"].cast("long").alias("n_alerts"),
    )


@register(
    "q_ts_seasonal_dow",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    tot AS (
      SELECT event_type,
             CAST(SUM(n) AS BIGINT) AS t_n, COUNT(*) AS t_days
      FROM daily GROUP BY event_type)
    SELECT daily.event_type, isodow(d) AS dow,
           COUNT(*) AS n_days,
           CAST(SUM(n) AS BIGINT) AS n_events,
           ROUND((CAST(SUM(n) AS DOUBLE) / COUNT(*))
                 / (CAST(ANY_VALUE(t_n) AS DOUBLE) / ANY_VALUE(t_days)),
                 6) AS seasonal_index
    FROM daily JOIN tot ON tot.event_type = daily.event_type
    GROUP BY daily.event_type, isodow(d)
    """,
)
def q_ts_seasonal_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal index per event type: mean daily volume on
    each ISO weekday divided by the type's overall mean daily volume —
    the multiplicative seasonality profile behind every
    weekday-adjusted anomaly fence (q_anomaly_zscore_daily without this
    index alerts every Saturday).

    Cross-engine exactness: all counts are exact integers; ONE double
    expression at the end, written with the identical division order in
    both engines, rounded to 6.  Weekday numbering is pinned to ISO
    (1=Monday..7=Sunday): Spark weekday()+1 == DuckDB isodow().

    100 TB posture: one corpus-sized (type, day) partial-agg count;
    both the per-dow rollup and the per-type totals aggregate the
    |types|x|days| bounded relation; the totals join is a broadcast of
    |types| rows."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count("*").alias("n"))
    tot = daily.groupBy("event_type").agg(
        F.sum("n").alias("t_n"), F.count("*").alias("t_days")
    )
    return (
        daily.join(broadcast(tot), "event_type")
        .groupBy("event_type", (F.weekday("d") + 1).alias("dow"))
        .agg(
            F.count("*").alias("n_days"),
            F.sum("n").alias("n_events"),
            F.round(
                (F.sum("n").cast("double") / F.count("*"))
                / (
                    F.any_value("t_n").cast("double")
                    / F.any_value("t_days")
                ),
                6,
            ).alias("seasonal_index"),
        )
    )

@register(
    "q_agg_skew_kurt",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(q) AS BIGINT) AS DOUBLE) AS s1,
             CAST(CAST(SUM(q * q) AS BIGINT) AS DOUBLE) AS s2,
             CAST(CAST(SUM(q * q * q) AS BIGINT) AS DOUBLE) AS s3,
             CAST(CAST(SUM(q * q * q * q) AS BIGINT) AS DOUBLE) AS s4
      FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q
            FROM lineitem)
      GROUP BY l_returnflag),
    m AS (
      SELECT l_returnflag, n, s1 / n AS m1, s2, s3, s4 FROM s),
    v AS (
      SELECT l_returnflag, n, m1, s3, s4,
             s2 / n - m1 * m1 AS var_pop FROM m)
    SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
           ROUND(var_pop, 6) AS var_pop,
           CASE WHEN var_pop > 0 THEN
             ROUND((s3 / n - 3 * m1 * (var_pop + m1 * m1)
                    + 2 * m1 * m1 * m1)
                   / POW(var_pop, 1.5), 6) END AS skewness,
           CASE WHEN var_pop > 0 THEN
             ROUND((s4 / n - 4 * m1 * (s3 / n)
                    + 6 * m1 * m1 * (var_pop + m1 * m1)
                    - 3 * m1 * m1 * m1 * m1)
                   / (var_pop * var_pop) - 3, 6) END AS kurtosis_excess
    FROM v
    """,
)
def q_agg_skew_kurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment shape statistics per group: population variance,
    skewness m₃/m₂^1.5 and excess kurtosis m₄/m₂²−3 of l_quantity —
    the distribution-shape tier above q_agg_stats' mean/stddev, built
    on the q_agg_linreg discipline: EXACT integer power sums (the
    measure is integer-valued, so Σq..Σq⁴ are exact BIGINTs — no
    order-dependent double accumulation anywhere), then ONE closed-form
    double expression per statistic, written with the identical
    operation sequence in both engines and rounded to 6.

    Note s2/n is re-derived as (var_pop + m1²) in the central-moment
    expansions so both engines share the named subexpression — the
    formulas are algebraically the standard m₃ = s3/n − 3·m1·s2/n
    + 2·m1³ and m₄ = s4/n − 4·m1·s3/n + 6·m1²·s2/n − 3·m1⁴.

    100 TB posture: one partial-agg shuffle carrying four BIGINT
    accumulators per group — the moments are the mergeable state
    (Σq⁴ ≤ 50⁴·rows keeps headroom to ~10¹⁴ rows); the closed form is
    a |groups|-sized projection."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("long")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(q).cast("double").alias("s1"),
        F.sum(q * q).cast("double").alias("s2"),
        F.sum(q * q * q).cast("double").alias("s3"),
        F.sum(q * q * q * q).cast("double").alias("s4"),
    )
    m = s.select(
        "l_returnflag",
        "n",
        (F.col("s1") / F.col("n")).alias("m1"),
        "s2",
        "s3",
        "s4",
    )
    v = m.select(
        "l_returnflag",
        "n",
        "m1",
        "s3",
        "s4",
        (F.col("s2") / F.col("n") - F.col("m1") * F.col("m1")).alias(
            "var_pop"
        ),
    )
    m1, var_pop = F.col("m1"), F.col("var_pop")
    # var_pop > 0 guard on BOTH engine sides (ADVICE r10 item 2): a
    # constant group makes Spark's non-ANSI Divide return NULL while
    # DuckDB's IEEE division returns inf/nan — guard to NULL/NULL, the
    # x_heaps_law degenerate-source discipline.
    return v.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_rows"),
        F.round(var_pop, 6).alias("var_pop"),
        F.when(
            var_pop > 0,
            F.round(
                (
                    F.col("s3") / F.col("n")
                    - F.lit(3) * m1 * (var_pop + m1 * m1)
                    + F.lit(2) * m1 * m1 * m1
                )
                / F.pow(var_pop, 1.5),
                6,
            ),
        ).alias("skewness"),
        F.when(
            var_pop > 0,
            F.round(
                (
                    F.col("s4") / F.col("n")
                    - F.lit(4) * m1 * (F.col("s3") / F.col("n"))
                    + F.lit(6) * m1 * m1 * (var_pop + m1 * m1)
                    - F.lit(3) * m1 * m1 * m1 * m1
                )
                / (var_pop * var_pop)
                - F.lit(3),
                6,
            ),
        ).alias("kurtosis_excess"),
    )


_CORR_VARS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@register(
    "q_agg_corr_matrix",
    oracle=f"""
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             {", ".join(
                 f"CAST(SUM(CAST({c} AS DECIMAL(18,2))) AS DOUBLE) AS s_{i}"
                 for i, c in enumerate(_CORR_VARS))},
             {", ".join(
                 f"CAST(SUM(CAST({a} AS DECIMAL(18,2))"
                 f" * CAST({b} AS DECIMAL(18,2))) AS DOUBLE) AS p_{i}_{j}"
                 for i, a in enumerate(_CORR_VARS)
                 for j, b in enumerate(_CORR_VARS) if i <= j)}
      FROM lineitem GROUP BY l_returnflag),
    pairs AS (
      {" UNION ALL ".join(
          f"SELECT l_returnflag, '{a}' AS var_a, '{b}' AS var_b,"
          f" CAST(n AS BIGINT) AS n_rows,"
          f" CASE WHEN n * p_{i}_{i} - s_{i} * s_{i} > 0"
          f" AND n * p_{j}_{j} - s_{j} * s_{j} > 0 THEN"
          f" ROUND((n * p_{i}_{j} - s_{i} * s_{j})"
          f" / sqrt((n * p_{i}_{i} - s_{i} * s_{i})"
          f" * (n * p_{j}_{j} - s_{j} * s_{j})), 6) END AS corr FROM s"
          for i, a in enumerate(_CORR_VARS)
          for j, b in enumerate(_CORR_VARS) if i < j)})
    SELECT * FROM pairs
    """,
)
def q_agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the four lineitem
    measures (quantity, extendedprice, discount, tax) per return flag
    — the feature-correlation screen every modeling pipeline runs
    before trusting a regression, as the corr() surface rebuilt on the
    q_agg_linreg discipline: ONE pass accumulates exact DECIMAL(18,2)
    sums and all 10 upper-triangle product moments (mergeable,
    order-free), then each of the 6 pair correlations is a closed-form
    double expression written identically in both engines, rounded 6.

    100 TB posture: a single partial-agg shuffle carrying 15 DECIMAL
    accumulators per group — adding measures grows the state
    quadratically but the pass count never leaves 1; the pair
    expansion (explode of a 6-element literal array) runs on the
    |groups|-row relation."""
    from ..plans import spread

    # spread(): 15 DECIMAL-multiply accumulators per row, all map-side
    # — single-core on a one-task scan otherwise (round-13 rule).
    # Keyed on a measure the op already reads (high-cardinality, and
    # present in the planted-fixture tests' narrow schema).
    li = spread(load_table(spark, sf_dir, "lineitem"), "l_extendedprice")
    aggs = [F.count("*").cast("double").alias("n")]
    for i, c in enumerate(_CORR_VARS):
        aggs.append(
            F.sum(F.col(c).cast("decimal(18,2)"))
            .cast("double")
            .alias(f"s_{i}")
        )
    for i, a in enumerate(_CORR_VARS):
        for j, b in enumerate(_CORR_VARS):
            if i <= j:
                aggs.append(
                    F.sum(
                        F.col(a).cast("decimal(18,2)")
                        * F.col(b).cast("decimal(18,2)")
                    )
                    .cast("double")
                    .alias(f"p_{i}_{j}")
                )
    s = li.groupBy("l_returnflag").agg(*aggs)
    n = F.col("n")
    cells = []
    for i, a in enumerate(_CORR_VARS):
        for j, b in enumerate(_CORR_VARS):
            if i < j:
                si, sj = F.col(f"s_{i}"), F.col(f"s_{j}")
                # constant-measure guard, both engine sides (ADVICE r10
                # item 2): zero variance -> NULL corr in BOTH engines,
                # never Spark-NULL vs DuckDB inf/nan.
                var_i = n * F.col(f"p_{i}_{i}") - si * si
                var_j = n * F.col(f"p_{j}_{j}") - sj * sj
                cells.append(
                    F.struct(
                        F.lit(a).alias("var_a"),
                        F.lit(b).alias("var_b"),
                        n.cast("long").alias("n_rows"),
                        F.when(
                            (var_i > 0) & (var_j > 0),
                            F.round(
                                (n * F.col(f"p_{i}_{j}") - si * sj)
                                / F.sqrt(var_i * var_j),
                                6,
                            ),
                        ).alias("corr"),
                    )
                )
    return s.select(
        "l_returnflag", F.explode(F.array(*cells)).alias("c")
    ).select("l_returnflag", "c.*")


@register(
    "q_ts_theil_sen",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    di AS (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01', day) AS x,
             CAST(n AS BIGINT) AS y
      FROM d),
    slopes AS (
      SELECT a.event_type,
             CAST(b.y - a.y AS DOUBLE) / (b.x - a.x) AS s
      FROM di a JOIN di b
        ON a.event_type = b.event_type AND a.x < b.x),
    agg AS (
      SELECT event_type, COUNT(*) AS n_pairs,
             list_sort(list(s)) AS ss
      FROM slopes GROUP BY event_type),
    nd AS (SELECT event_type, COUNT(*) AS n_days FROM di GROUP BY 1)
    SELECT a.event_type, nd.n_days, a.n_pairs,
           ss[CAST((a.n_pairs + 1) // 2 AS INT)] AS ts_slope
    FROM agg a JOIN nd ON nd.event_type = a.event_type
    """,
)
def q_ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per event type: the MEDIAN of all
    pairwise day-over-day slopes of the daily event count — the
    outlier-resistant trend estimator (up to 29% contamination
    breakdown) one tier above q_agg_linreg's OLS, which a single
    traffic spike can swing arbitrarily.

    Cross-engine exactness: each slope is (Δcount)/(Δdays) — one IEEE
    division of exact integers, bit-identical in both engines; the
    estimator is the lower median picked by RANK from the sorted slope
    list (element (n+1)//2 — an order statistic of identical doubles,
    no interpolation, no rounding anywhere).

    100 TB posture: the only corpus-sized stage is the (type, day)
    partial-agg count; the pair expansion is a self-join of the
    BOUNDED daily relation (|days|² pairs per type — ~16k at a year of
    days, CONSTANT in corpus size), and the per-type slope list the
    median indexes into is equally bounded.  The day spine never
    grows with data volume — only with calendar time.  The daily
    relation feeds THREE consumers (both self-join sides + the
    n_days rollup), so it is localCheckpointed — the bounded-relation
    arm of the AQE no-cross-stage-reuse rule; without it the corpus
    agg replays once per consumer (plan-pinned: zero events scans in
    the final plan)."""
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
    ).agg(F.count("*").alias("n"))
    di = d.select(
        "event_type",
        F.datediff(F.col("day"), F.lit("1970-01-01")).alias("x"),
        F.col("n").cast("long").alias("y"),
    ).localCheckpoint(eager=True)
    a, b = di.alias("a"), di.alias("b")
    slopes = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.x") < F.col("b.x")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.y") - F.col("a.y")).cast("double")
            / (F.col("b.x") - F.col("a.x"))
        ).alias("s"),
    )
    agg = slopes.groupBy("event_type").agg(
        F.count("*").alias("n_pairs"),
        F.array_sort(F.collect_list("s")).alias("ss"),
    )
    nd = di.groupBy("event_type").agg(F.count("*").alias("n_days"))
    return (
        agg.join(nd, "event_type")
        .select(
            "event_type",
            "n_days",
            "n_pairs",
            F.element_at(
                F.col("ss"),
                F.expr("CAST((n_pairs + 1) div 2 AS INT)"),
            ).alias("ts_slope"),
        )
    )


TRIM_PCT = 5  # q_agg_trimmed_mean drops/clips the lowest+highest 5%


@register(
    "q_agg_trimmed_mean",
    oracle=f"""
    WITH h AS (
      SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
             COUNT(*) AS cnt
      FROM lineitem GROUP BY 1, 2),
    w AS (
      SELECT l_returnflag, q, cnt,
             SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY q) AS cum,
             SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
      FROM h),
    k AS (
      SELECT *, ({TRIM_PCT} * n) // 100 AS k,
             GREATEST(0, LEAST(cum, n - ({TRIM_PCT} * n) // 100)
                        - GREATEST(cum - cnt, ({TRIM_PCT} * n) // 100))
               AS kept
      FROM w),
    agg AS (
      SELECT l_returnflag,
             CAST(MAX(n) AS BIGINT) AS n_rows,
             CAST(MAX(k) AS BIGINT) AS trim_k,
             CAST(SUM(q * kept) AS BIGINT) AS tsum,
             CAST(MIN(CASE WHEN cum >= k + 1 THEN q END) AS BIGINT)
               AS lo_clip,
             CAST(MIN(CASE WHEN cum >= n - k THEN q END) AS BIGINT)
               AS hi_clip
      FROM k GROUP BY l_returnflag)
    SELECT l_returnflag, n_rows, trim_k, lo_clip, hi_clip,
           CAST(tsum AS DOUBLE) / (n_rows - 2 * trim_k) AS trimmed_mean,
           CAST(tsum + trim_k * lo_clip + trim_k * hi_clip AS DOUBLE) / n_rows
             AS winsorized_mean
    FROM agg
    """,
)
def q_agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust central tendency per group: the {TRIM_PCT}%-trimmed mean
    (drop the k = floor(0.05n) lowest and highest l_quantity values)
    and the winsorized mean (clip them to the surviving boundary
    values) — the outlier-resistant location estimators between
    q_agg_stats' mean and q_agg_mad's median.

    Mechanics — the value-HISTOGRAM form, not a sort: l_quantity has a
    bounded integer domain (1..50), so the exact order statistics come
    from cumulative counts over a |groups| x |values| relation.  Each
    value's kept copies = overlap of its cumulative span (cum-cnt,
    cum] with the kept rank band (k, n-k]; the boundary clips are the
    (k+1)-th and (n-k)-th smallest values read off the same cumulative.

    Cross-engine exactness: everything up to the final division is
    BIGINT arithmetic (counts, ranks, value*kept products); the two
    means are single IEEE divisions of identical integers — emitted
    UNROUNDED because bit-identical inputs give bit-identical doubles.

    100 TB posture: ONE corpus-sized partial-agg shuffle onto
    (group, value) cells — mergeable state, map-side combine absorbs
    the row volume; the window runs over the |values|-bounded
    histogram (50 rows per group), never over raw rows.  Unlike
    q_agg_mad's exact form this carries NO bounded-cardinality caveat:
    the histogram IS the bound.  For unbounded-domain measures, bucket
    first (q_agg_histogram) or use the sketch tier
    (q_agg_percentile_approx)."""
    li = load_table(spark, sf_dir, "lineitem")
    h = li.groupBy(
        "l_returnflag", F.col("l_quantity").cast("long").alias("q")
    ).agg(F.count("*").alias("cnt"))
    win_o = Window.partitionBy("l_returnflag").orderBy("q")
    win_a = Window.partitionBy("l_returnflag")
    w = h.select(
        "l_returnflag",
        "q",
        "cnt",
        F.sum("cnt").over(win_o).alias("cum"),
        F.sum("cnt").over(win_a).alias("n"),
    )
    kq = w.select(
        "*",
        F.expr(f"({TRIM_PCT} * n) div 100").alias("k"),
    ).select(
        "*",
        F.greatest(
            F.lit(0),
            F.least(F.col("cum"), F.col("n") - F.col("k"))
            - F.greatest(F.col("cum") - F.col("cnt"), F.col("k")),
        ).alias("kept"),
    )
    agg = kq.groupBy("l_returnflag").agg(
        F.max("n").cast("long").alias("n_rows"),
        F.max("k").cast("long").alias("trim_k"),
        F.sum(F.col("q") * F.col("kept")).cast("long").alias("tsum"),
        F.min(F.when(F.col("cum") >= F.col("k") + 1, F.col("q")))
        .cast("long")
        .alias("lo_clip"),
        F.min(F.when(F.col("cum") >= F.col("n") - F.col("k"), F.col("q")))
        .cast("long")
        .alias("hi_clip"),
    )
    return agg.select(
        "l_returnflag",
        "n_rows",
        "trim_k",
        "lo_clip",
        "hi_clip",
        (
            F.col("tsum").cast("double")
            / (F.col("n_rows") - 2 * F.col("trim_k"))
        ).alias("trimmed_mean"),
        (
            (
                F.col("tsum")
                + F.col("trim_k") * F.col("lo_clip")
                + F.col("trim_k") * F.col("hi_clip")
            ).cast("double")
            / F.col("n_rows")
        ).alias("winsorized_mean"),
    )


@register(
    "q_ts_mann_kendall",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    di AS (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01', day) AS x,
             CAST(n AS BIGINT) AS y
      FROM d),
    s AS (
      SELECT a.event_type,
             CAST(SUM(CASE WHEN b.y > a.y THEN 1
                           WHEN b.y < a.y THEN -1 ELSE 0 END)
                  AS BIGINT) AS s_stat,
             COUNT(*) AS n_pairs
      FROM di a JOIN di b
        ON a.event_type = b.event_type AND a.x < b.x
      GROUP BY a.event_type),
    nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
           FROM di GROUP BY 1),
    ties AS (
      SELECT event_type,
             CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
      FROM (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS t
            FROM di GROUP BY event_type, y)
      GROUP BY event_type)
    SELECT s.event_type, nd.n_days, s.s_stat,
           nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5)
             - ties.tie_term AS var18,
           CASE
             WHEN nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5)
                  - ties.tie_term = 0 THEN NULL
             WHEN s.s_stat > 0 THEN
               (CAST(s.s_stat AS DOUBLE) - 1)
                 / sqrt((nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5)
                         - ties.tie_term) / 18.0)
             WHEN s.s_stat < 0 THEN
               (CAST(s.s_stat AS DOUBLE) + 1)
                 / sqrt((nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5)
                         - ties.tie_term) / 18.0)
             ELSE 0.0
           END AS mk_z
    FROM s JOIN nd ON nd.event_type = s.event_type
           JOIN ties ON ties.event_type = s.event_type
    """,
)
def q_ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per event type: S = Σ_{i<j}
    sign(y_j − y_i) over the time-ordered daily counts, with the
    tie-corrected normal approximation z — the nonparametric
    significance companion to q_ts_theil_sen's slope (the two are the
    standard pairing: Theil-Sen says HOW STEEP, Mann-Kendall says HOW
    SURE).

    Cross-engine exactness: S, n_days, and the tie term are exact
    BIGINTs; var18 = n(n−1)(2n+5) − Σ t(t−1)(2t+5) stays an exact
    integer (the classical /18 is deferred so no engine ever rounds
    it); z is (S∓1)/sqrt(var18/18.0) — one IEEE division of exact
    integers, one correctly-rounded IEEE sqrt, one final division,
    each bit-identical across engines.  Degenerate groups (all-tied
    days, var18 = 0) yield NULL on BOTH sides, per the ADVICE r10
    degenerate-division rule.

    100 TB posture (the q_ts_theil_sen twin): the only corpus-sized
    stage is the (type, day) partial-agg count; the sign-pair
    expansion runs on the BOUNDED daily relation (|days|² per type —
    calendar-bounded, constant in corpus size), and the tie histogram
    is |distinct y| ≤ |days| rows.  The daily relation feeds three
    consumers (both join sides + the tie rollup), so it is
    localCheckpointed — the bounded-relation arm of the AQE
    no-cross-stage-reuse rule, same as the theil_sen plan pin."""
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
    ).agg(F.count("*").alias("n"))
    di = d.select(
        "event_type",
        F.datediff(F.col("day"), F.lit("1970-01-01")).alias("x"),
        F.col("n").cast("long").alias("y"),
    ).localCheckpoint(eager=True)
    a, b = di.alias("a"), di.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.x") < F.col("b.x")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("b.y") > F.col("a.y"), 1)
                .when(F.col("b.y") < F.col("a.y"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat"),
            F.count("*").alias("n_pairs"),
        )
        .drop("n_pairs")
    )
    nd = di.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days")
    )
    ties = (
        di.groupBy("event_type", "y")
        .agg(F.count("*").cast("long").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    var18 = (
        F.col("n_days")
        * (F.col("n_days") - 1)
        * (2 * F.col("n_days") + 5)
        - F.col("tie_term")
    )
    return (
        s.join(nd, "event_type")
        .join(ties, "event_type")
        .select(
            "event_type",
            "n_days",
            "s_stat",
            var18.alias("var18"),
            F.when(var18 == 0, F.lit(None).cast("double"))
            .when(
                F.col("s_stat") > 0,
                (F.col("s_stat").cast("double") - 1)
                / F.sqrt(var18 / F.lit(18.0)),
            )
            .when(
                F.col("s_stat") < 0,
                (F.col("s_stat").cast("double") + 1)
                / F.sqrt(var18 / F.lit(18.0)),
            )
            .otherwise(F.lit(0.0))
            .alias("mk_z"),
        )
    )


@register(
    "q_agg_kruskal_wallis",
    oracle="""
    WITH h AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c2,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c3
      FROM lineitem GROUP BY 1),
    w AS (
      SELECT q, c1, c2, c3, c1 + c2 + c3 AS c,
             SUM(c1 + c2 + c3) OVER (ORDER BY q) AS cum
      FROM h),
    agg AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1,
             CAST(SUM(c2) AS BIGINT) AS n2,
             CAST(SUM(c3) AS BIGINT) AS n3,
             SUM(CAST((2 * cum - c + 1) * c1 AS HUGEINT)) AS tr1,
             SUM(CAST((2 * cum - c + 1) * c2 AS HUGEINT)) AS tr2,
             SUM(CAST((2 * cum - c + 1) * c3 AS HUGEINT)) AS tr3,
             CAST(SUM(c * c * c - c) AS HUGEINT) AS tie_cubes
      FROM w)
    SELECT n1, n2, n3,
           CASE WHEN n1 = 0 OR n2 = 0 OR n3 = 0
                     OR n1 + n2 + n3 < 2
                     OR CAST(n1 + n2 + n3 AS HUGEINT)
                        * (n1 + n2 + n3) * (n1 + n2 + n3)
                        - (n1 + n2 + n3)
                        = tie_cubes THEN NULL
                ELSE (3.0 * (CAST(tr1 * tr1 AS DOUBLE) / n1
                             + CAST(tr2 * tr2 AS DOUBLE) / n2
                             + CAST(tr3 * tr3 AS DOUBLE) / n3)
                      / (CAST(n1 + n2 + n3 AS DOUBLE)
                         * (n1 + n2 + n3 + 1))
                      - 3.0 * (n1 + n2 + n3 + 1))
                     / (1.0 - CAST(tie_cubes AS DOUBLE)
                              / (CAST(n1 + n2 + n3 AS DOUBLE)
                                 * (n1 + n2 + n3)
                                 * (n1 + n2 + n3)
                                 - (n1 + n2 + n3)))
           END AS kw_h
    FROM agg
    """,
)
def q_agg_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across the three return-flag cohorts on
    l_quantity — the k-sample extension of q_agg_mann_whitney (rank
    analogue of q_agg_anova_oneway: one-way location test with no
    normality assumption), completing the rank-statistics family
    (Spearman/Kendall/Mann-Whitney/Wilcoxon/Hodges-Lehmann).

    Cross-engine exactness, the q_agg_mann_whitney discipline: ranks
    live on the (quantity, count) HISTOGRAM — a value with combined
    count c ending at cumulative cum gives each member the average
    rank (2cum−c+1)/2, so the doubled rank sums 2R_g = Σ(2cum−c+1)c_g
    are exact HUGEINT/DECIMAL(38,0) (their squares pass 2^63 at sf10
    row counts, hence the wide carry).  H = [3·Σ(2R_g)²/n_g] /
    [N(N+1)] − 3(N+1), tie-corrected by 1 − Σ(c³−c)/(N³−N), evaluated
    with the IDENTICAL cast-and-divide sequence in both engines —
    fixed-order IEEE arithmetic on exact-integer-derived doubles, no
    rounding grain.  Degenerate inputs (an empty cohort, all values
    tied) yield NULL on both sides.

    100 TB posture: the corpus-sized stage is the ~50-row quantity
    histogram with three conditional counts (map-side combine); every
    later stage — rank window, moment sums — runs on the histogram.
    The value domain, not the row count, sizes the reduce side (flat
    sf1→sf10 like the rest of the tier, SCALE.md)."""
    li = load_table(spark, sf_dir, "lineitem")
    h = li.groupBy(F.col("l_quantity").cast("long").alias("q")).agg(
        F.sum(F.when(F.col("l_returnflag") == "A", 1).otherwise(0))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(F.col("l_returnflag") == "N", 1).otherwise(0))
        .cast("long")
        .alias("c2"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("c3"),
    )
    w = h.select(
        "q",
        "c1",
        "c2",
        "c3",
        (F.col("c1") + F.col("c2") + F.col("c3")).alias("c"),
    ).select(
        "*",
        F.sum("c")
        .over(
            Window.orderBy("q").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cum"),
    )
    a = F.lit(2) * F.col("cum") - F.col("c") + 1
    agg = w.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.sum("c3").cast("long").alias("n3"),
        F.sum((a * F.col("c1")).cast("decimal(38,0)")).alias("tr1"),
        F.sum((a * F.col("c2")).cast("decimal(38,0)")).alias("tr2"),
        F.sum((a * F.col("c3")).cast("decimal(38,0)")).alias("tr3"),
        F.sum(
            (
                F.col("c") * F.col("c") * F.col("c") - F.col("c")
            ).cast("decimal(38,0)")
        ).alias("tie_cubes"),
    )
    n1, n2, n3 = F.col("n1"), F.col("n2"), F.col("n3")
    nn = n1 + n2 + n3
    # N³ passes 2^63 at sf10 — carry the all-tied guard in DECIMAL(38)
    # (HUGEINT on the oracle side); long arithmetic would wrap silently
    cubes_all = nn.cast("decimal(38,0)") * nn * nn - nn
    rank_part = (
        F.lit(3.0)
        * (
            (F.col("tr1") * F.col("tr1")).cast("double") / n1
            + (F.col("tr2") * F.col("tr2")).cast("double") / n2
            + (F.col("tr3") * F.col("tr3")).cast("double") / n3
        )
        / (nn.cast("double") * (nn + 1))
        - F.lit(3.0) * (nn + 1)
    )
    corr = F.lit(1.0) - F.col("tie_cubes").cast("double") / (
        nn.cast("double") * nn * nn - nn
    )
    return agg.select(
        "n1",
        "n2",
        "n3",
        F.when(
            (n1 == 0)
            | (n2 == 0)
            | (n3 == 0)
            | (nn < 2)
            | (cubes_all == F.col("tie_cubes")),
            F.lit(None).cast("double"),
        )
        .otherwise(rank_part / corr)
        .alias("kw_h"),
    )


@register(
    "q_agg_mann_whitney",
    oracle="""
    WITH h AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c2
      FROM lineitem WHERE l_returnflag IN ('A', 'R') GROUP BY 1),
    w AS (
      SELECT q, c1, c2, c1 + c2 AS c,
             SUM(c1 + c2) OVER (ORDER BY q) AS cum
      FROM h),
    agg AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1,
             CAST(SUM(c2) AS BIGINT) AS n2,
             CAST(SUM((2 * cum - c + 1) * c1) AS BIGINT) AS twice_r1,
             CAST(SUM(c * c * c - c) AS BIGINT) AS tie_cubes
      FROM w)
    SELECT n1, n2,
           twice_r1 - n1 * (n1 + 1) AS twice_u1,
           (CAST(twice_r1 - n1 * (n1 + 1) AS DOUBLE)) / 2 AS u1,
           CASE WHEN n1 = 0 OR n2 = 0 OR n1 + n2 < 2 THEN NULL
                WHEN (CAST(n1 * n2 AS DOUBLE) / 12)
                     * ((n1 + n2 + 1)
                        - CAST(tie_cubes AS DOUBLE)
                          / ((n1 + n2) * (n1 + n2 - 1))) = 0 THEN NULL
                ELSE (CAST(twice_r1 - n1 * (n1 + 1) AS DOUBLE) / 2
                      - CAST(n1 * n2 AS DOUBLE) / 2)
                     / sqrt((CAST(n1 * n2 AS DOUBLE) / 12)
                            * ((n1 + n2 + 1)
                               - CAST(tie_cubes AS DOUBLE)
                                 / ((n1 + n2) * (n1 + n2 - 1))))
           END AS mw_z
    FROM agg
    """,
)
def q_agg_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test: does l_quantity for
    returned-flag 'A' stochastically dominate flag 'R'?  The
    nonparametric two-sample location test one robustness tier above
    q_agg_welch_t — rank-based, so a single corrupt extreme value
    moves U by at most one rank, where Welch's t moves unboundedly.

    Cross-engine exactness, the q_agg_trimmed_mean discipline: ranks
    are never materialized per row — the (quantity, count) HISTOGRAM
    carries them.  For a distinct value with combined count c ending
    at cumulative cum, every one of its rows takes the average rank
    (2·cum − c + 1)/2, so 2·R1 = Σ (2cum − c + 1)·c1 is an exact
    BIGINT, 2·U1 = 2R1 − n1(n1+1) likewise; u1 halves it in one IEEE
    division.  The tie-corrected variance n1n2/12·[(n+1) −
    Σ(c³−c)/(n(n−1))] is evaluated with the IDENTICAL cast-and-divide
    sequence in both engines (each factor an exact-integer-derived
    double; IEEE ×,/ and the final correctly-rounded sqrt are
    deterministic), so z is bit-identical with no rounding grain.
    Degenerate inputs (an empty side, all values tied) yield NULL on
    both sides, per the ADVICE r10 degenerate-division rule.

    100 TB posture: the corpus-sized stage is the 50-row quantity
    histogram (partial-agg'd conditional counts, map-side combine);
    the rank window runs ON the histogram, never on rows — the same
    shape that makes q_agg_trimmed_mean's windows free.  No
    bounded-cardinality caveat: quantity's value domain, not the row
    count, sizes every post-histogram stage."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("A", "R")
    )
    h = li.groupBy(F.col("l_quantity").cast("long").alias("q")).agg(
        F.sum(F.when(F.col("l_returnflag") == "A", 1).otherwise(0))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("c2"),
    )
    w = h.select(
        "q",
        "c1",
        "c2",
        (F.col("c1") + F.col("c2")).alias("c"),
    ).select(
        "*",
        F.sum("c")
        .over(
            Window.orderBy("q").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cum"),
    )
    agg = w.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.sum((2 * F.col("cum") - F.col("c") + 1) * F.col("c1"))
        .cast("long")
        .alias("twice_r1"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("long")
        .alias("tie_cubes"),
    )
    n, n1, n2 = (
        F.col("n1") + F.col("n2"),
        F.col("n1"),
        F.col("n2"),
    )
    twice_u1 = F.col("twice_r1") - n1 * (n1 + 1)
    sigma2 = ((n1 * n2).cast("double") / 12) * (
        (n + 1)
        - F.col("tie_cubes").cast("double") / (n * (n - 1))
    )
    return agg.select(
        "n1",
        "n2",
        twice_u1.alias("twice_u1"),
        (twice_u1.cast("double") / 2).alias("u1"),
        F.when(
            (n1 == 0) | (n2 == 0) | (n < 2),
            F.lit(None).cast("double"),
        )
        .when(sigma2 == 0, F.lit(None).cast("double"))
        .otherwise(
            (
                twice_u1.cast("double") / 2
                - (n1 * n2).cast("double") / 2
            )
            / F.sqrt(sigma2)
        )
        .alias("mw_z"),
    )


@register(
    "q_agg_cramers_v",
    oracle="""
    WITH cell AS (
      SELECT event_type, isodow(ts) AS dow,
             CAST(COUNT(*) AS BIGINT) AS n_ij
      FROM events GROUP BY 1, 2),
    r AS (SELECT event_type, CAST(SUM(n_ij) AS BIGINT) AS r_i
          FROM cell GROUP BY 1),
    c AS (SELECT dow, CAST(SUM(n_ij) AS BIGINT) AS c_j
          FROM cell GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_ij) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_r,
                   CAST(COUNT(DISTINCT dow) AS BIGINT) AS n_c
            FROM cell),
    -- the FULL r x c grid: unobserved cells contribute e_ij to chi2
    grid AS (
      SELECT r.event_type, c.dow, r.r_i, c.c_j,
             COALESCE(cell.n_ij, 0) AS n_ij
      FROM r CROSS JOIN c
      LEFT JOIN cell ON cell.event_type = r.event_type
                    AND cell.dow = c.dow),
    chi AS (
      SELECT CAST(SUM(CAST(ROUND(
               POWER(CAST(grid.n_ij AS DOUBLE)
                     - CAST(grid.r_i * grid.c_j AS DOUBLE) / tot.n, 2)
                 / (CAST(grid.r_i * grid.c_j AS DOUBLE) / tot.n), 9)
             AS DECIMAL(28,9))) AS DOUBLE) AS chi2
      FROM grid CROSS JOIN tot)
    SELECT tot.n AS n_events, tot.n_r AS n_rows_dim,
           tot.n_c AS n_cols_dim, ROUND(chi.chi2, 6) AS chi2,
           CASE WHEN LEAST(tot.n_r, tot.n_c) <= 1 THEN NULL
                ELSE ROUND(sqrt(chi.chi2
                         / (tot.n * (LEAST(tot.n_r, tot.n_c) - 1))), 6)
           END AS cramers_v
    FROM chi CROSS JOIN tot
    """,
)
def q_agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association between event_type and ISO day-of-week:
    the χ²-derived [0,1] effect size for two categoricals — "is event
    mix a function of weekday?" — complementing x_chi2_keyness (which
    ranks TERMS by keyness) with the single-number association
    strength between two bounded dimensions.

    Cross-engine exactness: cell counts, row/column marginals, and n
    are exact BIGINTs; each cell's (n_ij − e_ij)²/e_ij term is an
    IEEE-deterministic double (e_ij = r_i·c_j/n — integer product,
    one division) ROUNDed to the 9-dp grid and summed as
    DECIMAL(28,9) so partial-sum ORDER cannot perturb χ² (the
    x_char_ngram_entropy discipline); V = sqrt(χ²/(n·(min(r,c)−1)))
    re-rounds at 6 dp.  The χ² runs over the FULL r×c grid — an
    unobserved cell contributes its whole expectation (a planted
    perfect-diagonal table scores V = 1; summing only observed cells
    would understate it as 1/sqrt(2)).  A degenerate 1×k table yields
    NULL, not a division by zero (ADVICE r10 rule).

    100 TB posture: one corpus-sized partial-agg to the (type, dow)
    cell table — at most |types|·7 cells; marginals and χ² run on
    CELLS.  The dow extraction is map-side (isodow == Spark's
    dayofweek reindexed; both engines agree on ISO numbering via
    (dayofweek+5)%7+1).  The cell table feeds four consumers, so it
    is localCheckpointed (the theil_sen bounded-relation rule) and
    nothing after the first groupBy scales with data volume."""
    e = load_table(spark, sf_dir, "events")
    cell = (
        e.groupBy(
            "event_type",
            ((F.dayofweek(F.col("ts")) + 5) % 7 + 1).alias("dow"),
        )
        .agg(F.count("*").cast("long").alias("n_ij"))
        # |types|·7 cells feed FOUR consumers (marginals, totals, the
        # χ² join) — localCheckpoint so the corpus scan runs ONCE
        # (the q_ts_theil_sen bounded-relation arm of the AQE
        # no-cross-stage-reuse rule).
        .localCheckpoint(eager=True)
    )
    r = cell.groupBy("event_type").agg(
        F.sum("n_ij").cast("long").alias("r_i")
    )
    c = cell.groupBy("dow").agg(F.sum("n_ij").cast("long").alias("c_j"))
    tot = cell.agg(
        F.sum("n_ij").cast("long").alias("n"),
        F.countDistinct("event_type").cast("long").alias("n_r"),
        F.countDistinct("dow").cast("long").alias("n_c"),
    )
    e_ij = (F.col("r_i") * F.col("c_j")).cast("double") / F.col("n")
    term = F.round(
        F.pow(F.col("n_ij").cast("double") - e_ij, 2) / e_ij, 9
    ).cast("decimal(28,9)")
    # the FULL r x c grid: an unobserved (type, dow) cell contributes
    # its whole expectation e_ij to chi-squared — summing only observed
    # cells understates association (a perfect diagonal would score
    # V = 0.707, not 1)
    grid = (
        r.crossJoin(c)
        .join(cell, ["event_type", "dow"], "left")
        .withColumn("n_ij", F.coalesce(F.col("n_ij"), F.lit(0)))
    )
    chi = grid.crossJoin(tot).agg(
        F.sum(term).cast("double").alias("chi2")
    )
    k = F.least(F.col("n_r"), F.col("n_c"))
    return chi.crossJoin(tot).select(
        F.col("n").alias("n_events"),
        F.col("n_r").alias("n_rows_dim"),
        F.col("n_c").alias("n_cols_dim"),
        F.round(F.col("chi2"), 6).alias("chi2"),
        F.when(k <= 1, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.sqrt(F.col("chi2") / (F.col("n") * (k - 1))), 6
            )
        )
        .alias("cramers_v"),
    )


@register(
    "q_agg_spearman",
    oracle="""
    WITH j AS (
      SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS x,
             CAST(ROUND(l_discount * 100) AS BIGINT) AS y,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1, 2, 3),
    mx AS (
      SELECT flag, x, CAST(SUM(c) AS BIGINT) AS cx,
             2 * SUM(SUM(c)) OVER (PARTITION BY flag ORDER BY x)
               - CAST(SUM(c) AS BIGINT) + 1 AS tworx
      FROM j GROUP BY flag, x),
    my AS (
      SELECT flag, y, CAST(SUM(c) AS BIGINT) AS cy,
             2 * SUM(SUM(c)) OVER (PARTITION BY flag ORDER BY y)
               - CAST(SUM(c) AS BIGINT) + 1 AS twory
      FROM j GROUP BY flag, y),
    nn AS (SELECT flag, CAST(SUM(c) AS BIGINT) AS n FROM j GROUP BY 1),
    cent AS (
      SELECT j.flag, j.c,
             CAST(mx.tworx - (nn.n + 1) AS HUGEINT) AS dx,
             CAST(my.twory - (nn.n + 1) AS HUGEINT) AS dy
      FROM j JOIN mx ON mx.flag = j.flag AND mx.x = j.x
             JOIN my ON my.flag = j.flag AND my.y = j.y
             JOIN nn ON nn.flag = j.flag),
    s AS (
      SELECT flag,
             SUM(CAST(c AS HUGEINT) * dx * dy) AS sxy,
             SUM(CAST(c AS HUGEINT) * dx * dx) AS sxx,
             SUM(CAST(c AS HUGEINT) * dy * dy) AS syy
      FROM cent GROUP BY flag)
    SELECT s.flag AS l_returnflag, nn.n,
           CASE WHEN s.sxx = 0 OR s.syy = 0 THEN NULL
                ELSE CAST(s.sxy AS DOUBLE)
                     / (sqrt(CAST(s.sxx AS DOUBLE))
                        * sqrt(CAST(s.syy AS DOUBLE)))
           END AS rho_spearman
    FROM s JOIN nn ON nn.flag = s.flag
    """,
)
def q_agg_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and discount per
    return flag — Pearson on tie-averaged ranks, the monotone-robust
    twin of q_agg_corr_matrix's Pearson (a single extreme pair moves
    Pearson unboundedly; it moves a rank by at most one position).

    Cross-engine exactness: ranks never touch rows — the JOINT
    (quantity, discount-cents) histogram carries them.  The doubled
    average rank 2r = 2·cum − c + 1 is an exact BIGINT per distinct
    marginal value (the q_agg_mann_whitney identity); terms are
    CENTERED (2r − (n+1), whose weighted mean is zero) so the three
    sums Σc·dx·dy need no n·Σ − Σ·Σ cancellation of astronomically
    large terms.  Per-cell products reach n³ ≈ 2e23 at sf10 — past
    BIGINT — so Spark carries them as DECIMAL(38,0) and DuckDB as
    HUGEINT: both exact integers, so the engines agree exactly; the
    only floating point is the final sqrt-sqrt-divide, one
    deterministic IEEE sequence.  Degenerate marginals (all values
    tied) yield NULL on both sides.

    100 TB posture: one corpus-sized partial-agg to the ≤ 550-cell
    joint histogram per flag; marginal rank windows and the moment
    sums run on CELLS.  The joint histogram feeds four consumers
    (both marginals, n, the moment join) — localCheckpointed, the
    theil_sen bounded-relation rule."""
    li = load_table(spark, sf_dir, "lineitem")
    j = (
        li.groupBy(
            F.col("l_returnflag").alias("flag"),
            F.col("l_quantity").cast("long").alias("x"),
            F.round(F.col("l_discount") * 100)
            .cast("long")
            .alias("y"),
        )
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    wx = Window.partitionBy("flag").orderBy("x")
    mx = (
        j.groupBy("flag", "x")
        .agg(F.sum("c").cast("long").alias("cx"))
        .select(
            "flag",
            "x",
            (
                2
                * F.sum("cx").over(
                    wx.rowsBetween(
                        Window.unboundedPreceding, Window.currentRow
                    )
                )
                - F.col("cx")
                + 1
            ).alias("tworx"),
        )
    )
    wy = Window.partitionBy("flag").orderBy("y")
    my = (
        j.groupBy("flag", "y")
        .agg(F.sum("c").cast("long").alias("cy"))
        .select(
            "flag",
            "y",
            (
                2
                * F.sum("cy").over(
                    wy.rowsBetween(
                        Window.unboundedPreceding, Window.currentRow
                    )
                )
                - F.col("cy")
                + 1
            ).alias("twory"),
        )
    )
    nn = j.groupBy("flag").agg(F.sum("c").cast("long").alias("n"))
    dec = "decimal(38,0)"
    cent = (
        j.join(mx, ["flag", "x"])
        .join(my, ["flag", "y"])
        .join(nn, "flag")
        .select(
            "flag",
            F.col("c").cast(dec).alias("c_d"),
            (F.col("tworx") - (F.col("n") + 1)).cast(dec).alias("dx"),
            (F.col("twory") - (F.col("n") + 1)).cast(dec).alias("dy"),
        )
    )
    s = cent.groupBy("flag").agg(
        F.sum(F.col("c_d") * F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("c_d") * F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("c_d") * F.col("dy") * F.col("dy")).alias("syy"),
    )
    return s.join(nn, "flag").select(
        F.col("flag").alias("l_returnflag"),
        "n",
        F.when(
            (F.col("sxx") == 0) | (F.col("syy") == 0),
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.col("sxy").cast("double")
            / (
                F.sqrt(F.col("sxx").cast("double"))
                * F.sqrt(F.col("syy").cast("double"))
            )
        )
        .alias("rho_spearman"),
    )


@register(
    "q_agg_kendall_tau",
    oracle="""
    WITH j AS (
      SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS x,
             CAST(ROUND(l_discount * 100) AS BIGINT) AS y,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1, 2, 3),
    cd AS (
      SELECT a.flag,
             CAST(SUM(CASE WHEN a.y < b.y THEN a.c * b.c ELSE 0 END)
                  AS BIGINT) AS conc,
             CAST(SUM(CASE WHEN a.y > b.y THEN a.c * b.c ELSE 0 END)
                  AS BIGINT) AS disc
      FROM j a JOIN j b ON a.flag = b.flag AND a.x < b.x
      GROUP BY a.flag),
    nn AS (SELECT flag, CAST(SUM(c) AS BIGINT) AS n FROM j GROUP BY 1),
    tx AS (
      SELECT flag, CAST(SUM(cx * (cx - 1) // 2) AS BIGINT) AS n1
      FROM (SELECT flag, CAST(SUM(c) AS BIGINT) AS cx
            FROM j GROUP BY flag, x)
      GROUP BY flag),
    ty AS (
      SELECT flag, CAST(SUM(cy * (cy - 1) // 2) AS BIGINT) AS n2
      FROM (SELECT flag, CAST(SUM(c) AS BIGINT) AS cy
            FROM j GROUP BY flag, y)
      GROUP BY flag)
    SELECT cd.flag AS l_returnflag, nn.n, cd.conc, cd.disc,
           CASE WHEN nn.n * (nn.n - 1) // 2 - tx.n1 = 0
                  OR nn.n * (nn.n - 1) // 2 - ty.n2 = 0 THEN NULL
                ELSE CAST(cd.conc - cd.disc AS DOUBLE)
                     / sqrt(CAST(nn.n * (nn.n - 1) // 2 - tx.n1
                                 AS DOUBLE)
                            * CAST(nn.n * (nn.n - 1) // 2 - ty.n2
                                   AS DOUBLE))
           END AS tau_b
    FROM cd JOIN nn ON nn.flag = cd.flag
            JOIN tx ON tx.flag = cd.flag
            JOIN ty ON ty.flag = cd.flag
    """,
)
def q_agg_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's τ-b between quantity and discount per return flag —
    the concordant-minus-discordant pair statistic with tie
    correction, completing the rank-association pair with
    q_agg_spearman (τ weights each exchanged pair once; ρ weights by
    rank distance).

    Cross-engine exactness: concordant/discordant counts come from a
    CELL-PAIR join of the joint histogram (a.x < b.x, compare y) —
    Σ cᵢ·cⱼ products of exact BIGINTs, ≤ n²/2 ≈ 2e15 at sf10, inside
    BIGINT; tie terms n1/n2 from the marginals likewise.  τ-b's
    denominator multiplies two ~n²/2 integers — past BIGINT — so both
    engines cast each factor to DOUBLE first and multiply under the
    identical IEEE sequence.  All-tied marginals yield NULL.

    100 TB posture: corpus → ≤ 550-cell joint histogram (one
    partial-agg); the pair join is cells² ≈ 3e5 rows per flag,
    CONSTANT in data volume.  The joint histogram feeds four
    consumers — localCheckpointed (theil_sen rule)."""
    li = load_table(spark, sf_dir, "lineitem")
    j = (
        li.groupBy(
            F.col("l_returnflag").alias("flag"),
            F.col("l_quantity").cast("long").alias("x"),
            F.round(F.col("l_discount") * 100)
            .cast("long")
            .alias("y"),
        )
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    a = j.select(
        F.col("flag"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.col("c").alias("ca"),
    )
    b = j.select(
        F.col("flag").alias("flag_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.col("c").alias("cb"),
    )
    cd = (
        a.join(
            b,
            (F.col("flag") == F.col("flag_b"))
            & (F.col("xa") < F.col("xb")),
        )
        .groupBy("flag")
        .agg(
            F.sum(
                F.when(
                    F.col("ya") < F.col("yb"),
                    F.col("ca") * F.col("cb"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("conc"),
            F.sum(
                F.when(
                    F.col("ya") > F.col("yb"),
                    F.col("ca") * F.col("cb"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("disc"),
        )
    )
    nn = j.groupBy("flag").agg(F.sum("c").cast("long").alias("n"))
    tx = (
        j.groupBy("flag", "x")
        .agg(F.sum("c").cast("long").alias("cx"))
        .groupBy("flag")
        .agg(
            F.sum(F.expr("cx * (cx - 1) div 2"))
            .cast("long")
            .alias("n1")
        )
    )
    ty = (
        j.groupBy("flag", "y")
        .agg(F.sum("c").cast("long").alias("cy"))
        .groupBy("flag")
        .agg(
            F.sum(F.expr("cy * (cy - 1) div 2"))
            .cast("long")
            .alias("n2")
        )
    )
    n0 = F.expr("n * (n - 1) div 2")
    return (
        cd.join(nn, "flag")
        .join(tx, "flag")
        .join(ty, "flag")
        .select(
            F.col("flag").alias("l_returnflag"),
            "n",
            "conc",
            "disc",
            F.when(
                (n0 - F.col("n1") == 0) | (n0 - F.col("n2") == 0),
                F.lit(None).cast("double"),
            )
            .otherwise(
                (F.col("conc") - F.col("disc")).cast("double")
                / F.sqrt(
                    (n0 - F.col("n1")).cast("double")
                    * (n0 - F.col("n2")).cast("double")
                )
            )
            .alias("tau_b"),
        )
    )


@register(
    "q_agg_hodges_lehmann",
    oracle="""
    WITH h AS (
      SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS v,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1, 2),
    pairs AS (
      SELECT a.flag, a.v + b.v AS twice_w,
             CASE WHEN a.v = b.v THEN a.c * (a.c + 1) // 2
                  ELSE a.c * b.c END AS wt
      FROM h a JOIN h b ON a.flag = b.flag AND a.v <= b.v),
    grp AS (
      SELECT flag, twice_w, CAST(SUM(wt) AS BIGINT) AS wt
      FROM pairs GROUP BY flag, twice_w),
    cum AS (
      SELECT flag, twice_w, wt,
             SUM(wt) OVER (PARTITION BY flag ORDER BY twice_w)
               AS cumwt,
             SUM(wt) OVER (PARTITION BY flag) AS nw
      FROM grp)
    SELECT flag AS l_returnflag, CAST(MAX(nw) AS BIGINT) AS n_walsh,
           CAST(MIN(CASE WHEN cumwt >= (nw + 1) // 2 THEN twice_w END)
                AS BIGINT) AS twice_hl,
           CAST(MIN(CASE WHEN cumwt >= (nw + 1) // 2 THEN twice_w END)
                AS DOUBLE) / 2 AS hl_estimate
    FROM cum GROUP BY flag
    """,
)
def q_agg_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann location estimator per return flag: the lower
    median of all n(n+1)/2 Walsh averages (xᵢ+xⱼ)/2, i ≤ j — the
    location companion to q_agg_mann_whitney (it is the rank-sum
    test's point estimate) with 29% breakdown, between the mean's 0%
    and the median's 50%.

    Cross-engine exactness: Walsh averages are never enumerated — the
    VALUE HISTOGRAM carries them with multiplicities: a pair of
    distinct values contributes weight cᵢ·cⱼ, a same-value pair
    cᵢ(cᵢ+1)/2 (integral-divided), and the average is carried DOUBLED
    (vᵢ+vⱼ — an exact BIGINT, the theil_sen lower-median discipline)
    so the rank scan never touches a float; hl = twice_hl/2.0 is the
    only division.  All weights and the (N+1)//2 target rank are exact
    BIGINTs (N ≤ n²/2 ≈ 2e15 at sf10, inside BIGINT).

    100 TB posture: corpus → 50-row value histogram (one partial-agg);
    the Walsh-pair expansion is |values|²/2 ≈ 1,275 rows per flag,
    CONSTANT in data volume, and the median scan is a window over the
    ≤ 99 distinct doubled sums.  The histogram self-join is the
    bounded arm — localCheckpointed."""
    li = load_table(spark, sf_dir, "lineitem")
    h = (
        li.groupBy(
            F.col("l_returnflag").alias("flag"),
            F.col("l_quantity").cast("long").alias("v"),
        )
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    a = h.select(
        "flag", F.col("v").alias("va"), F.col("c").alias("ca")
    )
    b = h.select(
        F.col("flag").alias("flag_b"),
        F.col("v").alias("vb"),
        F.col("c").alias("cb"),
    )
    pairs = a.join(
        b,
        (F.col("flag") == F.col("flag_b"))
        & (F.col("va") <= F.col("vb")),
    ).select(
        "flag",
        (F.col("va") + F.col("vb")).alias("twice_w"),
        F.when(
            F.col("va") == F.col("vb"),
            F.expr("ca * (ca + 1) div 2"),
        )
        .otherwise(F.col("ca") * F.col("cb"))
        .alias("wt"),
    )
    grp = pairs.groupBy("flag", "twice_w").agg(
        F.sum("wt").cast("long").alias("wt")
    )
    w = Window.partitionBy("flag").orderBy("twice_w")
    cum = grp.select(
        "flag",
        "twice_w",
        "wt",
        F.sum("wt")
        .over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("cumwt"),
        F.sum("wt")
        .over(
            Window.partitionBy("flag").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("nw"),
    )
    hit = F.min(
        F.when(
            F.col("cumwt") >= F.expr("(nw + 1) div 2"),
            F.col("twice_w"),
        )
    )
    return cum.groupBy(F.col("flag").alias("l_returnflag")).agg(
        F.max("nw").cast("long").alias("n_walsh"),
        hit.cast("long").alias("twice_hl"),
        (hit.cast("double") / 2).alias("hl_estimate"),
    )


@register(
    "q_ts_changepoint",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    pre AS (
      SELECT event_type, day, n,
             SUM(n) OVER (PARTITION BY event_type ORDER BY day)
               AS s1,
             SUM(n) OVER (PARTITION BY event_type) AS s,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
               AS k1,
             COUNT(*) OVER (PARTITION BY event_type) AS k
      FROM d),
    m AS (
      SELECT event_type, day, k1, k - k1 AS k2, s1, s - s1 AS s2,
             CAST((s1 * (k - k1) - (s - s1) * k1) AS DOUBLE)
               * CAST((s1 * (k - k1) - (s - s1) * k1) AS DOUBLE)
               / (k1 * (k - k1)) AS gap_stat
      FROM pre WHERE k1 < k),
    best AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY gap_stat DESC, day) AS rk
      FROM m)
    SELECT event_type, day AS cp_day, k1 AS days_before,
           k2 AS days_after,
           CAST(s1 AS DOUBLE) / k1 AS mean_before,
           CAST(s2 AS DOUBLE) / k2 AS mean_after,
           CAST(s2 AS DOUBLE) / k2 - CAST(s1 AS DOUBLE) / k1
             AS mean_shift
    FROM best WHERE rk = 1
    """,
)
def q_ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point locator per event type: the split day
    maximizing the between-segment statistic (S₁k₂ − S₂k₁)²/(k₁k₂) —
    the day where the daily-count mean shifts most, in the CUSUM
    family (q_ts_cusum DETECTS sustained drift; this LOCATES the
    break; amplitude-normalized binary-segmentation step).

    Cross-engine exactness: prefix sums, total, and the split
    numerator S₁k₂ − S₂k₁ are exact BIGINTs (≤ ~2e10 at sf10 — and
    exactly representable as doubles, < 2^53); the statistic squares
    it under one identical IEEE multiply-divide sequence, so every
    candidate's score is bit-identical across engines and the argmax
    (ROW_NUMBER ordered score DESC, day ASC for the deterministic
    tiebreak) picks the same day.  Means and shift are single IEEE
    divisions of exact integers.

    100 TB posture: the only corpus-sized stage is the (type, day)
    partial-agg; every window runs on the CALENDAR-BOUNDED daily
    relation.  One lineage, single pass — no checkpoint needed."""
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
    ).agg(F.count("*").cast("long").alias("n"))
    wp = Window.partitionBy("event_type").orderBy("day")
    wall = Window.partitionBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pre = d.select(
        "event_type",
        "day",
        F.sum("n")
        .over(
            wp.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("s1"),
        F.sum("n").over(wall).alias("s"),
        F.row_number().over(wp).alias("k1"),
        F.count("*").over(wall).alias("k"),
    ).filter(F.col("k1") < F.col("k"))
    num = F.col("s1") * (F.col("k") - F.col("k1")) - (
        F.col("s") - F.col("s1")
    ) * F.col("k1")
    m = pre.select(
        "event_type",
        "day",
        "k1",
        (F.col("k") - F.col("k1")).alias("k2"),
        "s1",
        (F.col("s") - F.col("s1")).alias("s2"),
        (
            num.cast("double")
            * num.cast("double")
            / (F.col("k1") * (F.col("k") - F.col("k1")))
        ).alias("gap_stat"),
    )
    best = m.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.col("gap_stat").desc(), F.col("day")
            )
        ),
    ).filter(F.col("rk") == 1)
    mb = F.col("s1").cast("double") / F.col("k1")
    ma = F.col("s2").cast("double") / F.col("k2")
    return best.select(
        "event_type",
        F.col("day").alias("cp_day"),
        F.col("k1").alias("days_before"),
        F.col("k2").alias("days_after"),
        mb.alias("mean_before"),
        ma.alias("mean_after"),
        (ma - mb).alias("mean_shift"),
    )


#: Benford first-digit expectations log10(1+1/d), one definition
#: interpolated into BOTH engine texts (12-dp literals)
BENFORD_P = {1: 0.301029995664, 2: 0.176091259056, 3: 0.124938736608, 4: 0.096910013008, 5: 0.079181246048, 6: 0.066946789631, 7: 0.057991946978, 8: 0.051152522447, 9: 0.045757490561}


@register(
    "q_agg_benford",
    oracle="""
    WITH obs AS (
      SELECT CAST(substr(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit,
             CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM lineitem WHERE l_extendedprice >= 1
      GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs),
    spine(digit, p) AS (VALUES (1, 0.301029995664), (2, 0.176091259056), (3, 0.124938736608), (4, 0.096910013008), (5, 0.079181246048), (6, 0.066946789631), (7, 0.057991946978), (8, 0.051152522447), (9, 0.045757490561))
    SELECT spine.digit, COALESCE(obs.n_obs, 0) AS n_obs,
           ROUND(CAST(COALESCE(obs.n_obs, 0) AS DOUBLE) / tot.n, 6)
             AS obs_share,
           ROUND(spine.p, 6) AS benford_share,
           ROUND(ABS(CAST(COALESCE(obs.n_obs, 0) AS DOUBLE) / tot.n
                     - spine.p), 6) AS abs_dev
    FROM spine LEFT JOIN obs ON obs.digit = spine.digit
    CROSS JOIN tot
    """,
)
def q_agg_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit screen over extended price —
    the classic fabricated-or-truncated-data detector: naturally
    occurring multiplicative amounts follow P(d) = log10(1+1/d);
    uniform or hand-entered values do not.  Emits the full 1..9 digit
    spine (absent digits as zero — the q_agg_cramers_v full-grid
    lesson applied from the start) with observed share, expectation,
    and absolute deviation.

    Cross-engine exactness: the first digit comes from the DECIMAL
    string rendering (both engines format DECIMAL(18,2) identically;
    log10/pow never run at query time), counts are exact BIGINTs, the
    expectations are 12-dp literals computed ONCE in Python and
    interpolated into both engine texts, and shares round at 6 dp
    after one IEEE division.  Values below 1 are excluded (their
    leading significant digit is not the leading character).

    100 TB posture: one map-side digit extraction + a 9-group
    partial-agg — the shuffle carries nine rows."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice") >= 1
    )
    obs = li.select(
        F.substring(
            F.col("l_extendedprice").cast("decimal(18,2)").cast("string"),
            1,
            1,
        )
        .cast("long")
        .alias("digit")
    ).groupBy("digit").agg(F.count("*").cast("long").alias("n_obs"))
    # nine rows feed the total and the spine join — localCheckpoint so
    # the corpus digit count runs once (theil_sen bounded-relation rule)
    obs = obs.localCheckpoint(eager=True)
    tot = obs.agg(F.sum("n_obs").cast("long").alias("n"))
    spine = spark.createDataFrame(
        [(d, p) for d, p in BENFORD_P.items()], "digit long, p double"
    )
    share = F.col("n_obs").cast("double") / F.col("n")
    return (
        spine.join(obs, "digit", "left")
        .withColumn("n_obs", F.coalesce(F.col("n_obs"), F.lit(0)))
        .crossJoin(tot)
        .select(
            "digit",
            "n_obs",
            F.round(share, 6).alias("obs_share"),
            F.round(F.col("p"), 6).alias("benford_share"),
            F.round(F.abs(share - F.col("p")), 6).alias("abs_dev"),
        )
    )


@register(
    "q_ts_sma_crossover",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    w AS (
      SELECT event_type, day, n,
             CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS s7,
             CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 27 PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS s28,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
               AS rk
      FROM d),
    sgn AS (
      SELECT event_type, day, s7, s28,
             CASE WHEN 4 * s7 >= s28 THEN 1 ELSE 0 END AS side,
             LAG(CASE WHEN 4 * s7 >= s28 THEN 1 ELSE 0 END)
               OVER (PARTITION BY event_type ORDER BY day) AS prev_side
      FROM w WHERE rk >= 28)
    SELECT event_type, day AS cross_day,
           CASE WHEN side > prev_side THEN 'golden' ELSE 'death' END
             AS cross_kind,
           CAST(s7 AS DOUBLE) / 7 AS sma7,
           CAST(s28 AS DOUBLE) / 28 AS sma28
    FROM sgn
    WHERE prev_side IS NOT NULL AND side <> prev_side
    """,
)
def q_ts_sma_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-average crossover detector per event type: days where
    the 7-day SMA crosses the 28-day SMA ('golden' up-cross / 'death'
    down-cross) — the momentum-regime change marker, complementing
    q_ts_changepoint (one global break) with EVERY regime flip.

    Cross-engine exactness: the compare never divides — sma7 > sma28
    ⇔ 4·s7 > s28 because the frame lengths are 7 and 28 = 4×7
    (evaluated only once both frames are FULL, rk ≥ 28), so the side
    signal is a pure BIGINT comparison and the crossing set is exact;
    the reported sma values are single IEEE divisions for display.
    The side is TWO-state (ties count as above — integer daily counts
    make exact ties the resting state of any flat stretch, and a
    three-state side would suppress the first cross out of flatness),
    so every flip is either golden or death.

    100 TB posture: one corpus-sized partial-agg to the daily
    relation; both SMA frames are O(1) windows over it.  Single
    lineage — no checkpoint."""
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
    ).agg(F.count("*").cast("long").alias("n"))
    wp = Window.partitionBy("event_type").orderBy("day")
    w = d.select(
        "event_type",
        "day",
        F.sum("n").over(wp.rowsBetween(-6, 0)).cast("long").alias("s7"),
        F.sum("n")
        .over(wp.rowsBetween(-27, 0))
        .cast("long")
        .alias("s28"),
        F.row_number().over(wp).alias("rk"),
    ).filter(F.col("rk") >= 28)
    side = F.when(4 * F.col("s7") >= F.col("s28"), 1).otherwise(0)
    sgn = w.select(
        "event_type",
        "day",
        "s7",
        "s28",
        side.alias("side"),
        F.lag(side).over(wp).alias("prev_side"),
    )
    return sgn.filter(
        F.col("prev_side").isNotNull()
        & (F.col("side") != F.col("prev_side"))
    ).select(
        "event_type",
        F.col("day").alias("cross_day"),
        F.when(F.col("side") > F.col("prev_side"), "golden")
        .otherwise("death")
        .alias("cross_kind"),
        (F.col("s7").cast("double") / 7).alias("sma7"),
        (F.col("s28").cast("double") / 28).alias("sma28"),
    )


@register(
    "q_agg_iqr_outliers",
    oracle="""
    WITH h AS (
      SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS v,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1, 2),
    w AS (
      SELECT flag, v, c,
             SUM(c) OVER (PARTITION BY flag ORDER BY v) AS cum,
             SUM(c) OVER (PARTITION BY flag) AS n
      FROM h),
    q AS (
      SELECT flag, CAST(MAX(n) AS BIGINT) AS n,
             CAST(MIN(CASE WHEN cum >= (n + 3) // 4 THEN v END)
                  AS BIGINT) AS q1,
             CAST(MIN(CASE WHEN cum >= (3 * n + 3) // 4 THEN v END)
                  AS BIGINT) AS q3
      FROM w GROUP BY flag),
    f AS (
      SELECT flag, n, q1, q3, q3 - q1 AS iqr,
             2 * q1 - 3 * (q3 - q1) AS two_lo,
             2 * q3 + 3 * (q3 - q1) AS two_hi
      FROM q)
    SELECT f.flag AS l_returnflag, f.n, f.q1, f.q3, f.iqr,
           CAST(f.two_lo AS DOUBLE) / 2 AS lo_fence,
           CAST(f.two_hi AS DOUBLE) / 2 AS hi_fence,
           CAST(COALESCE(SUM(CASE WHEN 2 * h.v < f.two_lo
                                    OR 2 * h.v > f.two_hi
                                  THEN h.c ELSE 0 END), 0) AS BIGINT)
             AS n_outliers
    FROM f JOIN h ON h.flag = f.flag
    GROUP BY 1, 2, 3, 4, 5, 6, 7
    """,
)
def q_agg_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier census per return flag: Q1/Q3 as LOWER-rank
    statistics off the value-histogram cumulative (the q_agg_mad
    order-statistic discipline — no interpolation), fences at
    Q1 − 1.5·IQR / Q3 + 1.5·IQR, and the count of rows outside them —
    the box-plot screen that q_anomaly_zscore_daily's parametric
    z-score can't replicate on skewed data (the fences never move
    with the outliers they're hunting).

    Cross-engine exactness: everything is carried DOUBLED — 2·fence =
    2Q1 − 3·IQR is an exact BIGINT (1.5·IQR never exists as a float),
    and the outlier predicate compares 2·v against the doubled fence —
    pure BIGINT comparisons, zero floats until the display columns
    (fence halves land exactly on the .5 grid there).

    100 TB posture: corpus → 50-row histogram partial-agg; quantile
    scan and outlier census run ON the histogram (the census re-joins
    the tiny h relation, not raw rows).  h feeds the rank window and
    the census join — localCheckpointed."""
    li = load_table(spark, sf_dir, "lineitem")
    h = (
        li.groupBy(
            F.col("l_returnflag").alias("flag"),
            F.col("l_quantity").cast("long").alias("v"),
        )
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    wq = Window.partitionBy("flag").orderBy("v")
    w = h.select(
        "flag",
        "v",
        "c",
        F.sum("c")
        .over(wq.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
        F.sum("c")
        .over(
            Window.partitionBy("flag").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("n"),
    )
    q = w.groupBy("flag").agg(
        F.max("n").cast("long").alias("n"),
        F.min(
            F.when(F.col("cum") >= F.expr("(n + 3) div 4"), F.col("v"))
        )
        .cast("long")
        .alias("q1"),
        F.min(
            F.when(
                F.col("cum") >= F.expr("(3 * n + 3) div 4"), F.col("v")
            )
        )
        .cast("long")
        .alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    f = q.select(
        "flag",
        "n",
        "q1",
        "q3",
        iqr.alias("iqr"),
        (2 * F.col("q1") - 3 * iqr).alias("two_lo"),
        (2 * F.col("q3") + 3 * iqr).alias("two_hi"),
    )
    return (
        f.join(h, "flag")
        .groupBy(
            F.col("flag").alias("l_returnflag"),
            "n",
            "q1",
            "q3",
            "iqr",
            (F.col("two_lo").cast("double") / 2).alias("lo_fence"),
            (F.col("two_hi").cast("double") / 2).alias("hi_fence"),
        )
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        (2 * F.col("v") < F.col("two_lo"))
                        | (2 * F.col("v") > F.col("two_hi")),
                        F.col("c"),
                    ).otherwise(F.lit(0))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_outliers")
        )
    )


COHEN_A = "purchase"
COHEN_B = "view"


@register(
    "q_agg_cohens_d",
    oracle=f"""
    WITH c AS (
      SELECT event_type AS grp,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      FROM events WHERE event_type IN ('{COHEN_A}', '{COHEN_B}')),
    s AS (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS HUGEINT) AS sv,
             SUM(CAST(v AS HUGEINT) * v) AS svv
      FROM c GROUP BY grp),
    ab AS (SELECT
             MAX(CASE WHEN grp = '{COHEN_A}' THEN n END) AS na,
             MAX(CASE WHEN grp = '{COHEN_A}' THEN sv END) AS sva,
             MAX(CASE WHEN grp = '{COHEN_A}' THEN svv END) AS svva,
             MAX(CASE WHEN grp = '{COHEN_B}' THEN n END) AS nb,
             MAX(CASE WHEN grp = '{COHEN_B}' THEN sv END) AS svb,
             MAX(CASE WHEN grp = '{COHEN_B}' THEN svv END) AS svvb
           FROM s),
    f AS (
      SELECT na, nb,
             CAST(sva AS DOUBLE) AS dsa, CAST(svva AS DOUBLE) AS dssa,
             CAST(svb AS DOUBLE) AS dsb, CAST(svvb AS DOUBLE) AS dssb
      FROM ab)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           ROUND(dsa / na / 100, 6) AS mean_a,
           ROUND(dsb / nb / 100, 6) AS mean_b,
           CASE WHEN na < 2 OR nb < 2
                  OR ((dssa - dsa * dsa / na) + (dssb - dsb * dsb / nb))
                     / (na + nb - 2.0) <= 0 THEN NULL
                ELSE ROUND((dsa / na - dsb / nb)
                           / SQRT(((dssa - dsa * dsa / na)
                                   + (dssb - dsb * dsb / nb))
                                  / (na + nb - 2.0)), 6)
           END AS cohens_d,
           CASE WHEN na < 2 OR nb < 2
                  OR ((dssa - dsa * dsa / na) + (dssb - dsb * dsb / nb))
                     / (na + nb - 2.0) <= 0 THEN NULL
                ELSE ROUND(((dsa / na - dsb / nb)
                            / SQRT(((dssa - dsa * dsa / na)
                                    + (dssb - dsb * dsb / nb))
                                   / (na + nb - 2.0)))
                           * (1 - 3.0 / (4 * (na + nb) - 9)), 6)
           END AS hedges_g
    FROM f
    """,
)
def q_agg_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d / Hedges' g effect size between the '{COHEN_A}' and
    '{COHEN_B}' event cohorts' values — the practical-significance
    companion to q_agg_welch_t's p-value machinery (a 100 TB A/B read
    needs BOTH: at that n everything is "significant", only effect
    size says whether it matters).  Pooled-SD convention; Hedges' J =
    1 − 3/(4n − 9) small-sample correction.

    Cross-engine exactness: values land on the cent grid
    (DECIMAL(18,2) × 100 → BIGINT), per-cohort moments are EXACT
    integer sums (Spark DECIMAL(38,0) ≡ DuckDB HUGEINT), and d/g are
    ONE fixed-order double expression over the six exact moments,
    rounded to 6 — the q_agg_welch_t discipline with the float sums
    upgraded to integers.  Effect size is scale-invariant, so d is
    computed in cents (the /100 cancels); only the display means
    divide by 100.

    100 TB posture: one filtered partial-agg shuffle onto TWO groups
    (three integer accumulators each), then a 2-row pivot and a 1-row
    projection — entirely mergeable map-side state."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(COHEN_A, COHEN_B)
    )
    v = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    c = e.select(F.col("event_type").alias("grp"), v.alias("v"))
    s = c.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("sv"),
        F.sum(
            F.col("v").cast("decimal(18,0)")
            * F.col("v").cast("decimal(18,0)")
        ).alias("svv"),
    )
    ab = s.agg(
        F.max(F.when(F.col("grp") == COHEN_A, F.col("n"))).alias("na"),
        F.max(F.when(F.col("grp") == COHEN_A, F.col("sv"))).alias("sva"),
        F.max(F.when(F.col("grp") == COHEN_A, F.col("svv"))).alias("svva"),
        F.max(F.when(F.col("grp") == COHEN_B, F.col("n"))).alias("nb"),
        F.max(F.when(F.col("grp") == COHEN_B, F.col("sv"))).alias("svb"),
        F.max(F.when(F.col("grp") == COHEN_B, F.col("svv"))).alias("svvb"),
    )
    f = ab.select(
        "na",
        "nb",
        F.col("sva").cast("double").alias("dsa"),
        F.col("svva").cast("double").alias("dssa"),
        F.col("svb").cast("double").alias("dsb"),
        F.col("svvb").cast("double").alias("dssb"),
    )
    sp2 = (
        (F.col("dssa") - F.col("dsa") * F.col("dsa") / F.col("na"))
        + (F.col("dssb") - F.col("dsb") * F.col("dsb") / F.col("nb"))
    ) / (F.col("na") + F.col("nb") - 2.0)
    d = (
        F.col("dsa") / F.col("na") - F.col("dsb") / F.col("nb")
    ) / F.sqrt(sp2)
    degenerate = (
        (F.col("na") < 2) | (F.col("nb") < 2) | (sp2 <= 0)
    )
    jcorr = 1 - 3.0 / (4 * (F.col("na") + F.col("nb")) - 9)
    return f.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(F.col("dsa") / F.col("na") / 100, 6).alias("mean_a"),
        F.round(F.col("dsb") / F.col("nb") / 100, 6).alias("mean_b"),
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(F.round(d, 6))
        .alias("cohens_d"),
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(F.round(d * jcorr, 6))
        .alias("hedges_g"),
    )


@register(
    "q_agg_gini",
    oracle="""
    WITH c AS (
      SELECT o_orderpriority AS prio, o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS v
      FROM orders),
    r AS (
      SELECT prio, v,
             ROW_NUMBER() OVER (PARTITION BY prio
                                ORDER BY v, o_orderkey) AS rk
      FROM c)
    SELECT prio AS o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(CAST(SUM(v) AS DOUBLE) / 100 AS DOUBLE) AS total_value,
           ROUND(CAST(2 * SUM(CAST(rk AS HUGEINT) * v)
                      - (COUNT(*) + 1) * CAST(SUM(v) AS HUGEINT)
                      AS DOUBLE)
                 / CAST(COUNT(*) * CAST(SUM(v) AS HUGEINT) AS DOUBLE),
                 6) AS gini
    FROM r GROUP BY prio
    """,
)
def q_agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of order-value concentration per priority
    class — the inequality measure behind "does 1% of orders carry
    50% of revenue", complementing q_pareto_abc's fixed 80/20 bands
    and q_agg_hhi's share-of-squares with the full Lorenz-curve
    statistic.

    Cross-engine exactness: the x_doc_len_gini exact-integer rank
    formula — values on the cent grid (DECIMAL(18,2) × 100 → BIGINT),
    G = (2·Σ rk·v − (n+1)·Σv) / (n·Σv) with every term an EXACT
    integer (Spark DECIMAL(38,0) ≡ DuckDB HUGEINT — rk·v alone can
    pass 2^63 at 100 TB order counts), ONE double division, rounded
    to 6.  Ties on v permute only equal values across ranks, so
    Σ rk·v is tie-order-free; the o_orderkey tiebreak makes the rank
    assignment itself deterministic anyway.

    100 TB posture: the rank window is a per-priority sorted scan —
    the exact-tier cost, same class as q_agg_percentile (5 priority
    groups ≈ balanced ranges; Spark range-partitions within the
    window sort).  The final aggregate is three integer accumulators
    per group.  For a sketch-tier Gini at extreme scale, bucket the
    cent values through q_agg_kll_mergeable's quantile sketch and
    integrate the discrete Lorenz curve — the established twin
    pattern (q_agg_mad → q_agg_mad_approx) if this op's exact window
    ever shows up in a bench."""
    o = load_table(spark, sf_dir, "orders")
    c = o.select(
        F.col("o_orderpriority").alias("prio"),
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("v"),
    )
    r = c.select(
        "prio",
        "v",
        F.row_number()
        .over(Window.partitionBy("prio").orderBy("v", "o_orderkey"))
        .alias("rk"),
    )
    dv = F.col("v").cast("decimal(38,0)")
    drk = F.col("rk").cast("decimal(18,0)")
    agg = r.groupBy("prio").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(dv).alias("sv"),
        F.sum(drk * F.col("v").cast("decimal(18,0)")).alias("srv"),
    )
    return agg.select(
        F.col("prio").alias("o_orderpriority"),
        "n_orders",
        (F.col("sv").cast("double") / 100)
        .cast("double")
        .alias("total_value"),
        F.round(
            (
                2 * F.col("srv") - (F.col("n_orders") + 1) * F.col("sv")
            ).cast("double")
            / (F.col("n_orders") * F.col("sv")).cast("double"),
            6,
        ).alias("gini"),
    )


@register(
    "q_agg_survival_km",
    oracle="""
    WITH u AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN ts END) AS s_ts,
             MAX(ts) AS last_ts
      FROM events GROUP BY user_id
      HAVING MIN(CASE WHEN event_type = 'signup' THEN ts END)
             IS NOT NULL),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS c_ts
      FROM events e JOIN u ON u.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= u.s_ts
      GROUP BY e.user_id),
    dd AS (
      SELECT u.user_id,
             CASE WHEN p.c_ts IS NOT NULL
                  THEN date_diff('day', CAST(u.s_ts AS DATE),
                                 CAST(p.c_ts AS DATE))
                  ELSE date_diff('day', CAST(u.s_ts AS DATE),
                                 CAST(u.last_ts AS DATE)) END AS dur,
             CASE WHEN p.c_ts IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM u LEFT JOIN p ON p.user_id = u.user_id),
    h AS (
      SELECT dur, CAST(SUM(ev) AS BIGINT) AS d_events,
             CAST(COUNT(*) AS BIGINT) AS total
      FROM dd GROUP BY dur),
    r AS (
      SELECT dur, d_events,
             CAST(SUM(total) OVER (ORDER BY dur DESC) AS BIGINT)
               AS n_risk
      FROM h),
    k AS (
      SELECT dur, d_events, n_risk,
             MAX(CASE WHEN d_events >= n_risk THEN 1 ELSE 0 END)
               OVER (ORDER BY dur) AS dead,
             SUM(CASE WHEN d_events < n_risk THEN
                   CAST(ROUND(LN(1.0 - CAST(d_events AS DOUBLE)
                                       / n_risk), 6)
                        AS DECIMAL(28,6)) END)
               OVER (ORDER BY dur) AS cum_log
      FROM r WHERE d_events > 0)
    SELECT CAST(dur AS BIGINT) AS dur_days, n_risk, d_events,
           CASE WHEN dead = 1 THEN 0.0
                ELSE ROUND(EXP(CAST(cum_log AS DOUBLE)), 6)
           END AS km_surv
    FROM k
    """,
)
def q_agg_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for signup→purchase conversion:
    per signed-up user, duration = days from first signup to first
    purchase AT/AFTER it (event) or to last observed activity
    (right-censored — the user may still convert later).  S(t) =
    Π_{t'≤t} (1 − d_t'/n_t') over event times, the standard
    product-limit estimator — time-to-value / churn analysis done
    correctly, where naive conversion-rate cuts (q_funnel_ttc's
    completed-pairs view) silently drop the censored mass.

    Cross-engine exactness: d_t and the at-risk counts n_t (a
    DESCENDING cumulative sum over the duration histogram) are exact
    BIGINTs; the product is carried in log space with each
    ln(1 − d/n) term ROUNDED TO 6 and accumulated in DECIMAL(28,6)
    (the q_agg_entropy discipline: order-free exact accumulation of
    identically-rounded terms; d/n is ONE IEEE division on both
    engines), then EXP'd and rounded to 6.  When d = n at some time
    (everyone at risk converts), S = 0 exactly from there on — a
    windowed flag, not ln(0).

    100 TB posture: one corpus-sized per-user partial agg (+ the
    purchase-after-signup min, a second bounded pass); everything
    after runs on the |users|-row relation, then on the
    |distinct durations| histogram (~tens of rows).  No per-row
    ranks, no global sort above the histogram."""
    ev = load_table(spark, sf_dir, "events")
    u = (
        ev.groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "signup", F.col("ts"))
            ).alias("s_ts"),
            F.max("ts").alias("last_ts"),
        )
        .filter(F.col("s_ts").isNotNull())
        # two consumers (the purchase-window join + the duration
        # assembly): |users|-bounded — checkpoint so the corpus agg
        # runs once (plan-audit caught the AQE recompute at 3 scans)
        .localCheckpoint(eager=True)
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(u.select("user_id", "s_ts"), "user_id")
        .filter(F.col("ts") >= F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    d = u.join(p, "user_id", "left").select(
        F.when(
            F.col("c_ts").isNotNull(),
            F.datediff(F.to_date("c_ts"), F.to_date("s_ts")),
        )
        .otherwise(F.datediff(F.to_date("last_ts"), F.to_date("s_ts")))
        .alias("dur"),
        F.when(F.col("c_ts").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    h = d.groupBy("dur").agg(
        F.sum("ev").cast("long").alias("d_events"),
        F.count("*").cast("long").alias("total"),
    )
    w_desc = Window.orderBy(F.col("dur").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = h.select(
        "dur",
        "d_events",
        F.sum("total").over(w_desc).cast("long").alias("n_risk"),
    ).filter(F.col("d_events") > 0)
    w_asc = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    frac = F.col("d_events").cast("double") / F.col("n_risk")
    k = r.select(
        "dur",
        "d_events",
        "n_risk",
        F.max(
            F.when(F.col("d_events") >= F.col("n_risk"), 1).otherwise(0)
        )
        .over(w_asc)
        .alias("dead"),
        F.sum(
            F.when(
                F.col("d_events") < F.col("n_risk"),
                F.round(F.log(F.lit(1.0) - frac), 6).cast(
                    "decimal(28,6)"
                ),
            )
        )
        .over(w_asc)
        .alias("cum_log"),
    )
    return k.select(
        F.col("dur").cast("long").alias("dur_days"),
        "n_risk",
        "d_events",
        F.when(F.col("dead") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("cum_log").cast("double")), 6))
        .alias("km_surv"),
    )


LEADLAG_MAX = 7  # max lead (days) tested by q_ts_lead_lag


@register(
    "q_ts_lead_lag",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1
                      ELSE 0 END) AS BIGINT) AS p
      FROM events GROUP BY 1),
    pairs AS (
      SELECT g.k AS lag_days, a.p AS y, b.c AS x
      FROM daily a
      JOIN UNNEST(generate_series(0, {LEADLAG_MAX})) AS g(k) ON TRUE
      JOIN daily b ON b.d = a.d - CAST(g.k AS INTEGER)),
    m AS (
      SELECT lag_days, CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(x) AS HUGEINT) AS sx,
             CAST(SUM(y) AS HUGEINT) AS sy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(y AS HUGEINT) * y) AS syy
      FROM pairs GROUP BY lag_days)
    SELECT CAST(lag_days AS BIGINT) AS lag_days, n_days,
           CASE WHEN n_days < 2
                     OR n_days * sxx - sx * sx = 0
                     OR n_days * syy - sy * sy = 0 THEN NULL
                ELSE ROUND(CAST(n_days * sxy - sx * sy AS DOUBLE)
                           / sqrt(CAST(n_days * sxx - sx * sx
                                       AS DOUBLE)
                                  * CAST(n_days * syy - sy * sy
                                         AS DOUBLE)), 6)
           END AS xcorr
    FROM m
    """,
)
def q_ts_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation: Pearson r between daily PURCHASE
    volume and daily CLICK volume k days EARLIER, for k = 0..{LEADLAG_MAX}
    — "does click traffic lead purchases, and by how many days?", the
    lead-indicator screen that q_ts_autocorr (self-lags) and
    q_agg_linreg (contemporaneous fit) bracket.  The argmax row is the
    empirically best lead time; a Granger-style test would regress on
    it next.

    Cross-engine exactness: daily counts are exact integers; per lag,
    all five moments are exact HUGEINT/DECIMAL(38,0) sums; r is ONE
    fixed-order double expression (nΣxy−ΣxΣy over the sqrt'd
    variance product), rounded to 6; zero-variance series and n<2
    yield NULL on both engines.  Day alignment is an equi-join on
    calendar DATE minus k — gap days pair only where both ends exist,
    identically in both engines.

    100 TB posture: one corpus-sized partial-agg onto the |days|
    grid; the lag fan-out ({LEADLAG_MAX}+1 copies) and the self-join
    run on that bounded relation.  Moments are five integer
    accumulators per lag."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("long")
        .alias("p"),
    ).localCheckpoint(eager=True)  # two consumers (both join sides),
    # |days|-bounded — one corpus scan (plan-audit r12)
    a = daily.select(
        "d",
        F.col("p").alias("y"),
        F.explode(
            F.sequence(F.lit(0), F.lit(LEADLAG_MAX))
        ).alias("lag_days"),
    )
    b = daily.select(F.col("d").alias("d2"), F.col("c").alias("x"))
    pairs = a.join(
        b, F.col("d2") == F.date_sub(F.col("d"), F.col("lag_days"))
    )
    dx = F.col("x").cast("decimal(38,0)")
    dy = F.col("y").cast("decimal(38,0)")
    m = pairs.groupBy("lag_days").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(dx).alias("sx"),
        F.sum(dy).alias("sy"),
        F.sum(dx * F.col("y")).alias("sxy"),
        F.sum(dx * F.col("x")).alias("sxx"),
        F.sum(dy * F.col("y")).alias("syy"),
    )
    nd = F.col("n_days").cast("decimal(38,0)")
    num = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = nd * F.col("syy") - F.col("sy") * F.col("sy")
    return m.select(
        F.col("lag_days").cast("long").alias("lag_days"),
        "n_days",
        F.when(
            (F.col("n_days") < 2) | (vx == 0) | (vy == 0),
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.round(
                num.cast("double")
                / F.sqrt(vx.cast("double") * vy.cast("double")),
                6,
            )
        )
        .alias("xcorr"),
    )


GINI_Q = 100  # Lorenz bins (99 interior sketch boundaries)
GINI_ACC = 10000  # percentile_approx accuracy for the boundaries
GINI_TOL = 0.02  # certified max |gini_trap - gini_true| the gate allows


@register(
    "q_agg_gini_approx",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                              * 100 AS BIGINT)) AS DOUBLE) / 100
                AS DOUBLE) AS total_value,
           TRUE AS ok_gini
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_agg_gini_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch scale twin of q_agg_gini (VERDICT r11 item 3, the
    q_agg_mad_approx precedent): the Gini coefficient from a
    trapezoid-integrated Lorenz curve over GINI_Q sketch-placed bins
    instead of the exact per-group rank window, whose sorted scan of
    every group member is the exact-tier cost at 100x (15 s at sf10
    for 15M rows/group — SCALE.md).

    Mechanics: percentile_approx places GINI_Q-1 boundary values per
    group (one-pass mergeable sketch, O(accuracy) state); ONE exact
    counting pass bins every order cent value against the broadcast
    boundaries (map-side partial agg onto |groups|*GINI_Q rows); the
    cumulated bin masses are EXACT Lorenz-curve points (p_k, L_k) —
    sketch rank error moves WHERE the boundaries sit, never the
    exactness of the points — and the trapezoid rule integrates them.

    The gate is error-bounded like the mad twin: for a convex Lorenz
    curve the chord-vs-curve gap inside bin k is at most half the
    (dp_k x dL_k) box, so |gini_trap - gini_true| <= sum(dp_k * dL_k)
    =: err_bound, computed from the SAME exact masses.  The op emits
    ok_gini = (err_bound <= GINI_TOL) next to the exact group count
    and total; boundary VALUES are implementation-defined and stay
    internal (gini_approx_detail() exposes them for the in-suite
    tolerance test against exact q_agg_gini).

    100 TB posture: two column-pruned scans of orders (sketch pass +
    counting pass), each map-side partial agg; the cumulation window
    runs on the |groups|*GINI_Q-row bin relation.  No per-group sort,
    no rank window, no value->count buffer."""
    return gini_approx_detail(spark, sf_dir).select(
        "o_orderpriority",
        "n_orders",
        "total_value",
        (F.col("err_bound") <= GINI_TOL).alias("ok_gini"),
    )


def gini_approx_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized body of q_agg_gini_approx: emits the sketch-tier
    gini_approx and its certified err_bound per priority class (both
    implementation-defined through the boundary placement, hence not
    driver-gated — tests/test_round12_ops.py pins
    |gini_approx - gini_exact| <= err_bound <= GINI_TOL at sf0.01)."""
    o = load_table(spark, sf_dir, "orders")
    c = o.select(
        F.col("o_orderpriority").alias("prio"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("v"),
    )
    pcts = [k / GINI_Q for k in range(1, GINI_Q)]
    bounds = c.groupBy("prio").agg(
        F.percentile_approx("v", pcts, GINI_ACC).alias("bs")
    )
    # exact counting pass: bin k = #boundaries < v (codegen'd array
    # filter, O(GINI_Q) per row), then map-side partial agg onto the
    # |groups| x GINI_Q bin grid
    bins = (
        c.join(broadcast(bounds), "prio")
        .select(
            "prio",
            "v",
            F.expr("size(filter(bs, b -> b < v))").alias("k"),
        )
        .groupBy("prio", "k")
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum(F.col("v").cast("decimal(38,0)")).alias("sv"),
        )
    )
    w = Window.partitionBy("prio").orderBy("k")
    tot = Window.partitionBy("prio")
    pts = bins.select(
        "prio",
        "k",
        (F.sum("cnt").over(w).cast("double") / F.sum("cnt").over(tot))
        .alias("p"),
        (
            F.sum("sv").over(w).cast("double")
            / F.sum("sv").over(tot).cast("double")
        ).alias("L"),
        F.sum("cnt").over(tot).cast("long").alias("n_orders"),
        (F.sum("sv").over(tot).cast("double") / 100).alias(
            "total_value"
        ),
    )
    lp = F.lag("p", 1, 0.0).over(w)
    ll = F.lag("L", 1, 0.0).over(w)
    seg = pts.select(
        "prio",
        "n_orders",
        "total_value",
        ((F.col("p") - lp) * (F.col("L") + ll)).alias("tz"),
        ((F.col("p") - lp) * (F.col("L") - ll)).alias("eb"),
    )
    return seg.groupBy("prio").agg(
        F.any_value("n_orders").alias("n_orders"),
        F.any_value("total_value").alias("total_value"),
        F.round(1 - F.sum("tz"), 6).alias("gini_approx"),
        F.sum("eb").alias("err_bound"),
    ).select(
        F.col("prio").alias("o_orderpriority"),
        "n_orders",
        "total_value",
        "gini_approx",
        "err_bound",
    )


@register(
    "q_agg_wilcoxon_signed",
    oracle="""
    WITH e AS (
      SELECT user_id,
             SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                                AS BIGINT) END) AS sp,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS np,
             SUM(CASE WHEN event_type = 'click'
                      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                                AS BIGINT) END) AS sc,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS nc
      FROM events WHERE event_type IN ('purchase', 'click')
      GROUP BY user_id),
    d AS (
      SELECT CAST(sp - sc AS BIGINT) AS diff
      FROM e WHERE np > 0 AND nc > 0 AND sp - sc <> 0),
    h AS (
      SELECT ABS(diff) AS ad, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(CASE WHEN diff > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS cpos
      FROM d GROUP BY 1),
    w AS (
      SELECT ad, c, cpos, SUM(c) OVER (ORDER BY ad) AS cum
      FROM h),
    agg AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM((2 * cum - c + 1) * cpos) AS BIGINT) AS tw,
             SUM(CAST(c AS HUGEINT) * c * c - c) AS ties
      FROM w)
    SELECT n,
           CAST(tw AS DOUBLE) / 2 AS w_plus,
           CASE WHEN n = 0
                  OR 2 * CAST(n AS HUGEINT) * (n + 1) * (2 * n + 1)
                     - ties <= 0 THEN NULL
                ELSE ROUND(
                  CAST(2 * CAST(tw AS HUGEINT) - CAST(n AS HUGEINT)
                       * (n + 1) AS DOUBLE)
                  / (4 * SQRT(
                      CAST(2 * CAST(n AS HUGEINT) * (n + 1)
                           * (2 * n + 1) - ties AS DOUBLE) / 48)), 6)
           END AS wilcoxon_z
    FROM agg
    """,
)
def q_agg_wilcoxon_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on PAIRED per-user spend — purchase
    total vs click total for every user observed in both cohorts —
    the within-subject counterpart to q_agg_mann_whitney's unpaired
    rank-sum (paired designs kill between-user variance; at 100 TB of
    event data, user-paired reads are the standard experiment shape).
    Zero diffs drop (standard Wilcoxon convention); ranks of |diff|
    are tie-averaged.

    Cross-engine exactness — the q_agg_mann_whitney histogram
    discipline, one level up: diffs land on the cent grid, the rank
    scan runs over the |diff|-HISTOGRAM cumulative (never raw rows),
    the doubled tie-averaged rank of a tied block is the exact
    integer 2·cum − c + 1, so doubled W⁺ (tw) is an EXACT BIGINT and
    48·Var = 2n(n+1)(2n+1) − Σ(t³−t) an EXACT HUGEINT/DECIMAL(38,0);
    z is ONE fixed-order double expression over the exact integers,
    rounded to 6.

    100 TB posture: one filtered partial-agg shuffle onto user_id
    (four integer accumulators), a histogram partial-agg bounded by
    distinct |diff| values, and a rank window ON the histogram.  No
    raw row is ever ranked."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    per_user = e.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", cents)
        ).alias("sp"),
        F.count(
            F.when(F.col("event_type") == "purchase", F.lit(1))
        ).alias("np"),
        F.sum(F.when(F.col("event_type") == "click", cents)).alias("sc"),
        F.count(
            F.when(F.col("event_type") == "click", F.lit(1))
        ).alias("nc"),
    )
    d = per_user.filter(
        (F.col("np") > 0)
        & (F.col("nc") > 0)
        & (F.col("sp") - F.col("sc") != 0)
    ).select((F.col("sp") - F.col("sc")).cast("long").alias("diff"))
    h = d.groupBy(F.abs(F.col("diff")).alias("ad")).agg(
        F.count("*").cast("long").alias("c"),
        F.sum(F.when(F.col("diff") > 0, 1).otherwise(0))
        .cast("long")
        .alias("cpos"),
    )
    w = h.select(
        "ad",
        "c",
        "cpos",
        F.sum("c")
        .over(
            Window.orderBy("ad").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cum"),
    )
    dc = F.col("c").cast("decimal(12,0)")
    agg = w.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum((2 * F.col("cum") - F.col("c") + 1) * F.col("cpos"))
        .cast("long")
        .alias("tw"),
        F.sum(dc * dc * dc - F.col("c")).alias("ties"),
    )
    dn = F.col("n").cast("decimal(38,0)")
    v48 = 2 * dn * (F.col("n") + 1) * (2 * F.col("n") + 1) - F.col(
        "ties"
    )
    z = (
        2 * F.col("tw").cast("decimal(38,0)")
        - dn * (F.col("n") + 1)
    ).cast("double") / (4 * F.sqrt(v48.cast("double") / 48))
    return agg.select(
        "n",
        (F.col("tw").cast("double") / 2).alias("w_plus"),
        F.when(
            (F.col("n") == 0) | (v48 <= 0),
            F.lit(None).cast("double"),
        )
        .otherwise(F.round(z, 6))
        .alias("wilcoxon_z"),
    )


ACF_MAX_LAG = 7


@register(
    "q_ts_acf_multi",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    stats AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS HUGEINT) AS s,
             SUM(CAST(c AS HUGEINT) * c) AS s2
      FROM daily GROUP BY event_type),
    lags AS (SELECT UNNEST(range(1, {ACF_MAX_LAG} + 1)) AS lag),
    pairs AS (
      SELECT a.event_type, l.lag,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             SUM(CAST(a.c AS HUGEINT) * b.c) AS sp,
             CAST(SUM(a.c) AS HUGEINT) AS sh,
             CAST(SUM(b.c) AS HUGEINT) AS st
      FROM daily a CROSS JOIN lags l
      JOIN daily b ON b.event_type = a.event_type
                  AND b.d = a.d - CAST(l.lag AS INTEGER)
      GROUP BY a.event_type, l.lag)
    SELECT p.event_type, CAST(p.lag AS INTEGER) AS lag,
           t.n AS n_days, p.n_pairs,
           CASE WHEN t.n * t.s2 - t.s * t.s <= 0 THEN NULL
                ELSE ROUND(
                  CAST(t.n * t.n * p.sp - t.n * t.s * (p.sh + p.st)
                       + p.n_pairs * t.s * t.s AS DOUBLE)
                  / CAST(t.n * (t.n * t.s2 - t.s * t.s) AS DOUBLE), 6)
           END AS acf
    FROM pairs p JOIN stats t ON t.event_type = p.event_type
    """,
)
def q_ts_acf_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of each event type's daily volume at
    lags 1..{ACF_MAX_LAG} in ONE pass — the full correlogram (weekly
    seasonality shows as a lag-7 spike) that generalizes
    q_ts_autocorr's single lag-1 point.  Convention: r_k is computed
    over the calendar-aligned pairs that exist (gap days pair with
    nothing), centered on the GLOBAL series mean — stated in the
    output as n_pairs next to n_days.

    Cross-engine exactness: every moment is an EXACT integer (Spark
    DECIMAL(38,0) ≡ DuckDB HUGEINT — n²·Σxy and n·S·(Σh+Σt) pass
    2^63 at 100 TB daily volumes); multiplying the centered-moment
    ratio through by n² keeps the whole numerator and denominator
    integral, so acf is ONE double division of two exact integers,
    rounded to 6.  Constant series (zero variance) → NULL on both
    engines.

    100 TB posture: the corpus-sized stage is the (type, day)
    partial-agg count; the lag fan-out (×{ACF_MAX_LAG}) and self-join
    run over that |types|·|days|-bounded relation, localCheckpointed
    once for its two consumers (stats + pairs) — AQE broadcasts it.
    The correlogram never touches raw events again."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type", F.to_date("ts").alias("d")
        )
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    dc = F.col("c").cast("decimal(18,0)")
    stats = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(dc).cast("decimal(38,0)").alias("s"),
        F.sum(dc * dc).cast("decimal(38,0)").alias("s2"),
    )
    lags = spark.range(1, ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = daily.alias("a").crossJoin(broadcast(lags))
    b = daily.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (
                F.col("b.d")
                == F.date_sub(F.col("a.d"), F.col("lag"))
            ),
        )
        .groupBy(F.col("a.event_type").alias("event_type"), "lag")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum(
                F.col("a.c").cast("decimal(18,0)")
                * F.col("b.c").cast("decimal(18,0)")
            )
            .cast("decimal(38,0)")
            .alias("sp"),
            F.sum(F.col("a.c").cast("decimal(18,0)"))
            .cast("decimal(38,0)")
            .alias("sh"),
            F.sum(F.col("b.c").cast("decimal(18,0)"))
            .cast("decimal(38,0)")
            .alias("st"),
        )
    )
    j = pairs.alias("p").join(
        broadcast(stats.alias("t")), "event_type"
    )
    dn = F.col("t.n").cast("decimal(38,0)")
    denom = dn * F.col("t.s2") - F.col("t.s") * F.col("t.s")
    num = (
        dn * dn * F.col("p.sp")
        - dn * F.col("t.s") * (F.col("p.sh") + F.col("p.st"))
        + F.col("p.n_pairs").cast("decimal(38,0)")
        * F.col("t.s")
        * F.col("t.s")
    )
    return j.select(
        "event_type",
        F.col("lag").cast("int").alias("lag"),
        F.col("t.n").alias("n_days"),
        F.col("p.n_pairs").alias("n_pairs"),
        F.when(denom <= 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                num.cast("double") / (dn * denom).cast("double"), 6
            )
        )
        .alias("acf"),
    )


HW_ALPHA = 0.5  # binary-exact smoothing coefficients (the holt rule)
HW_BETA = 0.25
HW_GAMMA = 0.25
HW_PERIOD = 7


@register(
    "q_ts_holt_winters",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    series AS (
      SELECT event_type, COUNT(*) AS n_days,
             list(CAST(n AS DOUBLE) * {HOLT_SCALE} ORDER BY d) AS l
      FROM daily GROUP BY event_type
      HAVING COUNT(*) >= 2 * {HW_PERIOD} + 1),
    init AS (
      SELECT event_type, n_days, l,
             ROUND(list_sum(l[1:{HW_PERIOD}]) / {HW_PERIOD}, 0) AS lv0,
             ROUND((list_sum(l[{HW_PERIOD} + 1:2 * {HW_PERIOD}])
                    - list_sum(l[1:{HW_PERIOD}]))
                   / ({HW_PERIOD} * {HW_PERIOD}), 0) AS tr0
      FROM series),
    st AS (
      -- list_reduce has no init argument: the init state rides as the
      -- FIRST element of a list-of-lists (the q_ts_holt mechanism);
      -- each observation is wrapped [e] and read back as e[1]
      SELECT event_type, n_days,
             list_reduce(
               list_concat(
                 [list_concat(
                    [i.lv0, i.tr0, CAST({HW_PERIOD} AS DOUBLE)],
                    list_transform(l[1:{HW_PERIOD}],
                                   x -> ROUND(x - i.lv0, 0)))],
                 list_transform(l[2 * {HW_PERIOD} + 1:len(l)],
                                x -> [x])),
               (acc, e) -> list_concat(
                 [ROUND({HW_ALPHA} * (e[1] - acc[4 + CAST(acc[3] AS INTEGER) % {HW_PERIOD}])
                        + {1 - HW_ALPHA} * (acc[1] + acc[2]), 0),
                  ROUND({HW_BETA}
                          * (ROUND({HW_ALPHA} * (e[1] - acc[4 + CAST(acc[3] AS INTEGER) % {HW_PERIOD}])
                                   + {1 - HW_ALPHA} * (acc[1] + acc[2]), 0)
                             - acc[1])
                        + {1 - HW_BETA} * acc[2], 0),
                  acc[3] + 1],
                 list_concat(
                   acc[4:3 + CAST(acc[3] AS INTEGER) % {HW_PERIOD}],
                   list_concat(
                     [ROUND({HW_GAMMA}
                              * (e[1] - ROUND({HW_ALPHA} * (e[1] - acc[4 + CAST(acc[3] AS INTEGER) % {HW_PERIOD}])
                                           + {1 - HW_ALPHA} * (acc[1] + acc[2]), 0))
                            + {1 - HW_GAMMA}
                              * acc[4 + CAST(acc[3] AS INTEGER) % {HW_PERIOD}], 0)],
                   acc[5 + CAST(acc[3] AS INTEGER) % {HW_PERIOD}:3 + {HW_PERIOD}])))) AS s
      FROM init i)
    SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
           s[1] / {HOLT_SCALE} AS level,
           s[2] / {HOLT_SCALE} AS trend,
           s[4 + CAST(s[3] AS INTEGER) % {HW_PERIOD}] / {HOLT_SCALE}
             AS seasonal_next,
           (s[1] + s[2]
            + s[4 + CAST(s[3] AS INTEGER) % {HW_PERIOD}]) / {HOLT_SCALE}
             AS forecast_1
    FROM st
    """,
)
def q_ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters triple exponential smoothing (additive weekly
    seasonality, α={HW_ALPHA} β={HW_BETA} γ={HW_GAMMA}, period
    {HW_PERIOD}) of each type's daily volume — the seasonal upgrade
    of q_ts_holt: level + trend + a {HW_PERIOD}-slot seasonal state
    threaded through ONE ordered F.aggregate fold per group, never a
    sequential pass.  Init: level = mean of week 1, trend =
    (mean week 2 − mean week 1)/{HW_PERIOD}, seasonal_i = x_i −
    level; the fold consumes day 2·{HW_PERIOD}+1 onward.  Forecast =
    level + trend + seasonal at the next day's slot.

    Cross-engine exactness — the q_ts_holt EXACT-INTEGER micro-unit
    discipline extended to a 3+{HW_PERIOD}-component state: with
    binary-exact ½/¼ coefficients every product of integer state is
    an exact multiple of 0.25, the only rounding is ROUND(·, 0)
    (half-away-from-zero ties on both engines), and the init means
    divide exact integer sums in the same fixed order — the state
    vector stays ON the integer grid at every step, so a
    {HW_PERIOD}-slot recurrence over hundreds of days cannot drift
    one ulp apart between engines.  The seasonal slot for fold step
    t is cnt % {HW_PERIOD} with cnt seeded at {HW_PERIOD} (2·period
    consumed by init ≡ 0 mod period — slot arithmetic stays aligned).

    100 TB posture: one corpus-sized (type, day) partial-agg count;
    the collect_list is |days|-bounded per type (the q_ts_holt
    contract); the fold is a serial scan of that bounded array inside
    one task per group."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count("*").alias("n"))
    series = (
        daily.groupBy("event_type")
        .agg(
            F.count("*").alias("n_days"),
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "d",
                        (F.col("n").cast("double") * HOLT_SCALE).alias(
                            "n"
                        ),
                    )
                )
            ).alias("sl"),
        )
        .filter(F.col("n_days") >= 2 * HW_PERIOD + 1)
        .select("event_type", "n_days", F.col("sl.n").alias("l"))
    )
    week1_sum = F.aggregate(
        F.slice(F.col("l"), 1, HW_PERIOD),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    week2_sum = F.aggregate(
        F.slice(F.col("l"), HW_PERIOD + 1, HW_PERIOD),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    init = series.select(
        "event_type",
        "n_days",
        "l",
        F.round(week1_sum / HW_PERIOD, 0).alias("lv0"),
        F.round(
            (week2_sum - week1_sum) / (HW_PERIOD * HW_PERIOD), 0
        ).alias("tr0"),
    )

    def step(acc, x):
        slot = (acc["cnt"].cast("int") % HW_PERIOD).cast("int")
        s_cur = F.element_at(acc["s"], slot + 1)
        new_lv = F.round(
            F.lit(HW_ALPHA) * (x - s_cur)
            + F.lit(1 - HW_ALPHA) * (acc["lv"] + acc["tr"]),
            0,
        )
        new_tr = F.round(
            F.lit(HW_BETA) * (new_lv - acc["lv"])
            + F.lit(1 - HW_BETA) * acc["tr"],
            0,
        )
        new_s = F.round(
            F.lit(HW_GAMMA) * (x - new_lv)
            + F.lit(1 - HW_GAMMA) * s_cur,
            0,
        )
        return F.struct(
            new_lv.alias("lv"),
            new_tr.alias("tr"),
            (acc["cnt"] + 1).alias("cnt"),
            F.transform(
                acc["s"],
                lambda v, i: F.when(i == slot, new_s).otherwise(v),
            ).alias("s"),
        )

    st = F.aggregate(
        F.slice(
            F.col("l"),
            2 * HW_PERIOD + 1,
            F.greatest(F.size("l") - 2 * HW_PERIOD, F.lit(0)),
        ),
        F.struct(
            F.col("lv0").alias("lv"),
            F.col("tr0").alias("tr"),
            F.lit(float(HW_PERIOD)).alias("cnt"),
            F.transform(
                F.slice(F.col("l"), 1, HW_PERIOD),
                lambda x: F.round(x - F.col("lv0"), 0),
            ).alias("s"),
        ),
        step,
    )
    slot_next = (st["cnt"].cast("int") % HW_PERIOD).cast("int")
    s_next = F.element_at(st["s"], slot_next + 1)
    return init.select(
        "event_type",
        F.col("n_days").cast("long").alias("n_days"),
        (st["lv"] / HOLT_SCALE).alias("level"),
        (st["tr"] / HOLT_SCALE).alias("trend"),
        (s_next / HOLT_SCALE).alias("seasonal_next"),
        ((st["lv"] + st["tr"] + s_next) / HOLT_SCALE).alias(
            "forecast_1"
        ),
    )


BOOT_R = 32  # bootstrap replicates (r = BOOT_R is the identity pass)
# Poisson(1) CDF thresholds as exact double literals — both engines
# parse the same decimal strings, so the inverse-CDF draw from the
# md5-uniform is bit-identical
BOOT_CDF = (
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238463",
    "0.9963401531726563",
    "0.9994058151824183",
)
BOOT_LO_RANK = 2
BOOT_HI_RANK = 31


def _boot_w_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(BOOT_CDF)
    )
    return f"CASE {cases} ELSE 6 END"


@register(
    "q_agg_bootstrap_ci",
    oracle=f"""
    WITH rep AS (
      SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS v,
             g.r AS r
      FROM orders, UNNEST(generate_series(0, {BOOT_R})) AS g(r)),
    w AS (
      SELECT r, v,
             CASE WHEN r = {BOOT_R} THEN 1
                  ELSE {_boot_w_sql(
                    "CAST(CAST('0x' || substr(md5(o_orderkey || '_' || r), 1, 8) AS BIGINT) AS DOUBLE) / 4294967296.0"
                  )}
             END AS wt
      FROM rep),
    means AS (
      SELECT r, CAST(SUM(wt) AS BIGINT) AS n,
             ROUND(CAST(SUM(wt * CAST(v AS HUGEINT)) AS DOUBLE)
                   / SUM(wt) / 100, 6) AS m
      FROM w GROUP BY r HAVING SUM(wt) > 0),
    ranked AS (
      SELECT r, n, m,
             ROW_NUMBER() OVER (ORDER BY m, r) AS rk
      FROM means WHERE r < {BOOT_R}),
    sd AS (
      SELECT COUNT(*) AS nrep,
             SUM(CAST(m AS DECIMAL(18,6))) AS sm,
             SUM(CAST(m AS DECIMAL(19,6)) * CAST(m AS DECIMAL(19,6)))
               AS smm
      FROM ranked)
    SELECT (SELECT n FROM means WHERE r = {BOOT_R}) AS n_orders,
           (SELECT m FROM means WHERE r = {BOOT_R}) AS est_mean,
           (SELECT m FROM ranked WHERE rk = {BOOT_LO_RANK}) AS boot_lo,
           (SELECT m FROM ranked WHERE rk = {BOOT_HI_RANK}) AS boot_hi,
           (SELECT CASE WHEN nrep > 1 THEN
                     ROUND(SQRT((CAST(smm AS DOUBLE)
                                 - CAST(sm AS DOUBLE)
                                   * CAST(sm AS DOUBLE) / nrep)
                                / (nrep - 1)), 6) END
            FROM sd) AS boot_se
    """,
)
def q_agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson bootstrap CI for the mean order value —
    {BOOT_R} resampled replicates computed in ONE scan: every
    (row, replicate) pair draws its multiplicity from the Poisson(1)
    inverse-CDF at an md5-derived uniform, the standard
    single-pass distributed bootstrap (per-replicate partial sums,
    no resampled dataset ever materializes).  Replicate r={BOOT_R}
    carries weight 1 everywhere — the identity pass that yields the
    point estimate in the same scan.  CI bounds are the rank-
    {BOOT_LO_RANK} / rank-{BOOT_HI_RANK} order statistics of the
    {BOOT_R} replicate means (a ~94% percentile interval); boot_se
    is the replicate-mean standard deviation.

    Cross-engine exactness: the uniform is the SAME md5 prefix cast
    through '0x' on both engines (the x_span_corruption_plan
    mechanism) divided by 2^32; the CDF thresholds are shared decimal
    literals, so every weight is an identical exact integer; replicate
    sums are exact (HUGEINT/DECIMAL); each mean is rounded to 6 before
    the rank scan and the sd accumulates the ROUNDED means in
    DECIMAL(18,6) — no float ever accumulates in engine-dependent
    order.

    100 TB posture: the replicate fan-out is map-side ({BOOT_R}+1
    weighted copies of each row's CENTS, not the row); the shuffle
    carries {BOOT_R}+1 groups × two integer accumulators.  Rank scan
    and sd run on the {BOOT_R}-row means relation."""
    from ..plans import spread

    # spread() before the 33x replicate fan-out: the fixture scans as a
    # single effective split (one parquet row group), which serialized
    # every (row, replicate) md5 draw onto one core — measured 9.8s ->
    # 4.2s at sf0.1 from the repartition alone (guide §2.5 input skew;
    # no-op at real scale where the scan has thousands of splits)
    o = spread(load_table(spark, sf_dir, "orders"), "o_orderkey")
    reps = o.select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("v"),
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_R))).alias("r"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws("_", F.col("o_orderkey"), F.col("r"))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        .cast("double")
        / F.lit(4294967296.0)
    )
    wt = F.lit(6)
    for k in range(len(BOOT_CDF) - 1, -1, -1):
        wt = F.when(u < float(BOOT_CDF[k]), F.lit(k)).otherwise(wt)
    wt = F.when(F.col("r") == BOOT_R, F.lit(1)).otherwise(wt)
    w = reps.select("r", "v", wt.alias("wt"))
    means = (
        w.groupBy("r")
        .agg(
            F.sum("wt").cast("long").alias("n"),
            F.round(
                F.sum(
                    F.col("wt").cast("decimal(18,0)")
                    * F.col("v").cast("decimal(18,0)")
                ).cast("double")
                / F.sum("wt")
                / 100,
                6,
            ).alias("m"),
        )
        .filter(F.col("n") > 0)
        .localCheckpoint(eager=True)
    )
    ranked = (
        means.filter(F.col("r") < BOOT_R)
        .withColumn(
            "rk", F.row_number().over(Window.orderBy("m", "r"))
        )
    )
    # Scalar assembly via single-row aggregates (not filter→crossJoin):
    # every leg is an agg over a possibly-empty frame, so degenerate
    # input yields ONE row of NULLs — exactly what the oracle's
    # FROM-less scalar-subquery SELECT produces (ADVICE r11).  On
    # non-empty input exactly one row matches each predicate, so the
    # max-of-guarded-value IS that row's value.
    ident = means.agg(
        F.max(F.when(F.col("r") == BOOT_R, F.col("n"))).alias(
            "n_orders"
        ),
        F.max(F.when(F.col("r") == BOOT_R, F.col("m"))).alias(
            "est_mean"
        ),
    )
    lo = ranked.agg(
        F.max(F.when(F.col("rk") == BOOT_LO_RANK, F.col("m"))).alias(
            "boot_lo"
        )
    )
    hi = ranked.agg(
        F.max(F.when(F.col("rk") == BOOT_HI_RANK, F.col("m"))).alias(
            "boot_hi"
        )
    )
    dm = F.col("m").cast("decimal(18,6)")
    sd = ranked.agg(
        F.count("*").alias("nrep"),
        F.sum(dm).alias("sm"),
        F.sum(dm * dm).alias("smm"),
    ).select(
        F.when(
            F.col("nrep") > 1,
            F.round(
                F.sqrt(
                    (
                        F.col("smm").cast("double")
                        - F.col("sm").cast("double")
                        * F.col("sm").cast("double")
                        / F.col("nrep")
                    )
                    / (F.col("nrep") - 1)
                ),
                6,
            ),
        ).alias("boot_se")
    )
    return ident.crossJoin(lo).crossJoin(hi).crossJoin(sd)


DECOMP_W = 7  # centered moving-average window (full weeks only)


@register(
    "q_ts_decompose_ma",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    tr AS (
      SELECT event_type, d, c,
             CAST(isodow(d) AS INTEGER) AS dow,
             CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY d
                               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                  AS BIGINT) AS s7,
             COUNT(*) OVER (PARTITION BY event_type ORDER BY d
                            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
               AS w
      FROM daily),
    det AS (
      SELECT event_type, dow,
             {DECOMP_W} * c - s7 AS det7
      FROM tr WHERE w = {DECOMP_W})
    SELECT event_type, dow,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(CAST(SUM(det7) AS DOUBLE)
                 / ({DECOMP_W} * COUNT(*)), 6) AS seasonal,
           CASE WHEN COUNT(*) > 1 THEN
             ROUND(CAST(COUNT(*) * SUM(CAST(det7 AS HUGEINT) * det7)
                        - CAST(SUM(det7) AS HUGEINT) * SUM(det7)
                        AS DOUBLE)
                   / ({DECOMP_W} * {DECOMP_W})
                   / COUNT(*) / (COUNT(*) - 1), 6)
           END AS resid_var
    FROM det GROUP BY event_type, dow
    """,
)
def q_ts_decompose_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of daily volume (STL-lite):
    trend = centered {DECOMP_W}-day moving average (full windows
    only), seasonal index per ISO weekday = mean of the detrended
    series, residual variance after removing both — the decomposition
    view that q_ts_seasonal_dow (raw dow means) and q_ts_holt_winters
    (recursive smoothing) bracket.

    Cross-engine exactness: the detrended value is carried MULTIPLIED
    BY {DECOMP_W} ({DECOMP_W}·x − Σ₇) so it is an EXACT BIGINT — the
    moving average itself never exists as a float; seasonal divides
    exact integers once; the residual variance multiplies through by
    {DECOMP_W} (det7 = {DECOMP_W}·d, so the n·Σd²−(Σd)² numerator
    carries a {DECOMP_W}² factor and is exact), then divides by
    {DECOMP_W}² and n−1 in one fixed-order double expression, rounded
    to 6.  isodow ≡ Spark dayofweek rebased (the q_ts_seasonal_dow
    identity).

    100 TB posture: one corpus-sized (type, day) partial-agg count;
    the centered window and the dow rollup run over the
    |types|·|days|-bounded daily relation."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count("*").cast("long").alias("c"))
    wspec = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-3, 3)
    )
    tr = daily.select(
        "event_type",
        "d",
        "c",
        # ISO weekday: Spark dayofweek is 1=Sunday..7=Saturday;
        # isodow is 1=Monday..7=Sunday (the q_ts_seasonal_dow rebase)
        ((F.dayofweek("d") + 5) % 7 + 1).cast("int").alias("dow"),
        F.sum("c").over(wspec).cast("long").alias("s7"),
        F.count("*").over(wspec).alias("w"),
    )
    det = tr.filter(F.col("w") == DECOMP_W).select(
        "event_type",
        "dow",
        (DECOMP_W * F.col("c") - F.col("s7")).alias("det7"),
    )
    dd = F.col("det7").cast("decimal(18,0)")
    return det.groupBy("event_type", "dow").agg(
        F.count("*").cast("long").alias("n_days"),
        F.round(
            F.sum("det7").cast("double") / (DECOMP_W * F.count("*")),
            6,
        ).alias("seasonal"),
        # n·Σd² − (Σd)² is an exact integer (DECIMAL(38,0) ≡ HUGEINT);
        # one fixed-order double division chain closes it out
        F.when(
            F.count("*") > 1,
            F.round(
                (
                    F.count("*").cast("decimal(38,0)") * F.sum(dd * dd)
                    - F.sum(dd).cast("decimal(38,0)") * F.sum(dd)
                ).cast("double")
                / (DECOMP_W * DECOMP_W)
                / F.count("*")
                / (F.count("*") - 1),
                6,
            ),
        ).alias("resid_var"),
    )


@register(
    "q_agg_mutual_info",
    oracle="""
    WITH cells AS (
      SELECT event_type AS x, CAST(isodow(CAST(ts AS DATE)) AS INTEGER)
               AS y, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    terms AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             SUM(CAST(ROUND(c * LN(c), 6) AS DECIMAL(28,6))) AS sxy
      FROM cells),
    mx AS (
      SELECT SUM(CAST(ROUND(c * LN(c), 6) AS DECIMAL(28,6))) AS sx
      FROM (SELECT x, CAST(SUM(c) AS BIGINT) AS c
            FROM cells GROUP BY x)),
    my AS (
      SELECT SUM(CAST(ROUND(c * LN(c), 6) AS DECIMAL(28,6))) AS sy
      FROM (SELECT y, CAST(SUM(c) AS BIGINT) AS c
            FROM cells GROUP BY y))
    SELECT t.n,
           ROUND(LN(t.n) - CAST(mx.sx AS DOUBLE) / t.n, 6) + 0.0 AS h_type,
           ROUND(LN(t.n) - CAST(my.sy AS DOUBLE) / t.n, 6) + 0.0 AS h_dow,
           ROUND(LN(t.n)
                 + (CAST(t.sxy AS DOUBLE) - CAST(mx.sx AS DOUBLE)
                    - CAST(my.sy AS DOUBLE)) / t.n, 6) + 0.0 AS mi,
           CASE WHEN LN(t.n) - CAST(mx.sx AS DOUBLE) / t.n > 0 THEN
             ROUND((LN(t.n)
                    + (CAST(t.sxy AS DOUBLE) - CAST(mx.sx AS DOUBLE)
                       - CAST(my.sy AS DOUBLE)) / t.n)
                   / (LN(t.n) - CAST(mx.sx AS DOUBLE) / t.n), 6) + 0.0
           END AS uncertainty_coef
    FROM terms t, mx, my
    """,
)
def q_agg_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and ISO weekday — "how
    much does the day of week tell you about the traffic mix" — with
    both marginal entropies and Theil's uncertainty coefficient
    U = MI/H(type): the information-theoretic association measure
    next to q_agg_cramers_v's χ²-based one (MI sees nonlinear
    association χ² underweights; U normalizes it to [0,1]).

    Cross-engine exactness — the q_agg_entropy discipline, three
    sums wide: MI = ln N + (Σc·ln c|cells − Σ|x − Σ|y)/N, where every
    c·ln c term is rounded to 6 and accumulated in DECIMAL(28,6)
    (order-free exact); the closing expression is fixed-order double,
    rounded to 6.  H(type) ≤ 0 guard → NULL uncertainty coefficient.

    100 TB posture: ONE corpus-sized partial-agg shuffle onto the
    |types|·7 cell grid; margins and totals derive from the
    localCheckpointed cell relation, never from raw events."""
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.groupBy(
            F.col("event_type").alias("x"),
            ((F.dayofweek(F.to_date("ts")) + 5) % 7 + 1)
            .cast("int")
            .alias("y"),
        )
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )

    def clogc(col):
        return F.round(col * F.log(col), 6).cast("decimal(28,6)")

    terms = cells.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(clogc(F.col("c"))).alias("sxy"),
    )
    mx = (
        cells.groupBy("x")
        .agg(F.sum("c").cast("long").alias("c"))
        .agg(F.sum(clogc(F.col("c"))).alias("sx"))
    )
    my = (
        cells.groupBy("y")
        .agg(F.sum("c").cast("long").alias("c"))
        .agg(F.sum(clogc(F.col("c"))).alias("sy"))
    )
    j = terms.crossJoin(mx).crossJoin(my)
    dn = F.col("n")
    hx = F.log(dn) - F.col("sx").cast("double") / dn
    hy = F.log(dn) - F.col("sy").cast("double") / dn
    mi = F.log(dn) + (
        F.col("sxy").cast("double")
        - F.col("sx").cast("double")
        - F.col("sy").cast("double")
    ) / dn
    return j.select(
        "n",
        # + 0.0 collapses IEEE negative zero (ROUND of a tiny negative
        # residual yields -0.0 on DuckDB, 0.0 on Spark — canon splits);
        # h_type/h_dow carry the same ln(n) - roundedsum/n residual
        # shape as mi, so all four get the guard (ADVICE r11)
        (F.round(hx, 6) + 0.0).alias("h_type"),
        (F.round(hy, 6) + 0.0).alias("h_dow"),
        (F.round(mi, 6) + 0.0).alias("mi"),
        F.when(hx > 0, F.round(mi / hx, 6) + 0.0).alias(
            "uncertainty_coef"
        ),
    )


@register(
    "q_agg_anova_oneway",
    oracle="""
    WITH c AS (
      SELECT event_type AS grp,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      FROM events),
    s AS (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS HUGEINT) AS sv,
             SUM(CAST(v AS HUGEINT) * v) AS svv
      FROM c GROUP BY grp),
    arr AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS nn,
             CAST(SUM(sv) AS DOUBLE) AS st,
             -- ORDERED fold: per-group ratios accumulate in grp order
             -- on BOTH engines, so float summation order is fixed;
             -- list_reduce seeds from the FIRST element, so a zero
             -- state is prepended (the q_ts_holt_winters mechanism)
             list_reduce(
               list_concat(
                 [[0.0, 0.0, 0.0]],
                 list([CAST(sv AS DOUBLE), CAST(n AS DOUBLE),
                       CAST(svv AS DOUBLE)] ORDER BY grp)),
               (acc, e) -> [acc[1] + e[1] * e[1] / e[2],
                            acc[2] + e[3],
                            0.0]) AS f0
      FROM s)
    SELECT k AS n_groups, nn AS n_obs,
           CASE WHEN k < 2 OR nn <= k
                  OR (f0[2] - f0[1]) <= 0 THEN NULL
                ELSE ROUND(((f0[1] - st * st / nn) / (k - 1))
                           / ((f0[2] - f0[1]) / (nn - k)), 6)
           END AS anova_f
    FROM arr
    """,
)
def q_agg_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic across ALL event-type cohorts — the
    k-group generalization of q_agg_welch_t's two-group test (the
    first question of any multi-variant experiment: does ANY cohort
    differ?).  SSB = Σ S_j²/n_j − S²/N, SSW = ΣSS_j − Σ S_j²/n_j,
    F = (SSB/(k−1))/(SSW/(N−k)).

    Cross-engine exactness: per-group moments are EXACT integers on
    the cent grid; the only float accumulation — Σ_j S_j²/n_j and
    Σ_j SS_j — runs as an ORDERED fold over the group list sorted by
    group key (Spark array_sort + F.aggregate ≡ DuckDB list(... ORDER
    BY) + list_reduce), so the summation ORDER is identical on both
    engines and the final fixed-order expression is bit-identical
    before the 6-dp round.  The q_ts_holt fold mechanism, applied to
    make a 5-term float sum deterministic.

    100 TB posture: one partial-agg shuffle onto |types| groups
    (three integer accumulators); the fold runs on a k-row array in
    one task."""
    e = load_table(spark, sf_dir, "events")
    v = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    s = (
        e.select(F.col("event_type").alias("grp"), v.alias("v"))
        .groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("v").cast("decimal(38,0)")).alias("sv"),
            F.sum(
                F.col("v").cast("decimal(18,0)")
                * F.col("v").cast("decimal(18,0)")
            ).alias("svv"),
        )
    )
    arr = s.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        F.sum("sv").cast("double").alias("st"),
        F.array_sort(
            F.collect_list(
                F.struct(
                    "grp",
                    F.col("sv").cast("double").alias("sv"),
                    F.col("n").cast("double").alias("n"),
                    F.col("svv").cast("double").alias("svv"),
                )
            )
        ).alias("gs"),
    )
    folded = F.aggregate(
        F.col("gs"),
        F.struct(
            F.lit(0.0).alias("sb"), F.lit(0.0).alias("ss")
        ),
        lambda acc, g: F.struct(
            (acc["sb"] + g["sv"] * g["sv"] / g["n"]).alias("sb"),
            (acc["ss"] + g["svv"]).alias("ss"),
        ),
    )
    withf = arr.select("k", "nn", "st", folded.alias("f"))
    ssb = F.col("f.sb") - F.col("st") * F.col("st") / F.col("nn")
    ssw = F.col("f.ss") - F.col("f.sb")
    return withf.select(
        F.col("k").alias("n_groups"),
        F.col("nn").alias("n_obs"),
        F.when(
            (F.col("k") < 2) | (F.col("nn") <= F.col("k")) | (ssw <= 0),
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.round(
                (ssb / (F.col("k") - 1))
                / (ssw / (F.col("nn") - F.col("k"))),
                6,
            )
        )
        .alias("anova_f"),
    )


@register(
    "q_agg_levene",
    oracle="""
    WITH h AS (
      SELECT event_type AS grp,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    w AS (
      SELECT grp, v, c,
             SUM(c) OVER (PARTITION BY grp ORDER BY v) AS cum,
             SUM(c) OVER (PARTITION BY grp) AS n
      FROM h),
    med AS (
      SELECT grp,
             CAST(MIN(CASE WHEN cum >= (n + 1) // 2 THEN v END)
                  AS BIGINT) AS m
      FROM w GROUP BY grp),
    z AS (
      SELECT h.grp, ABS(h.v - med.m) AS z, h.c
      FROM h JOIN med ON med.grp = h.grp),
    s AS (
      SELECT grp, CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(z * c) AS HUGEINT) AS sv,
             SUM(CAST(z AS HUGEINT) * z * c) AS svv
      FROM z GROUP BY grp),
    arr AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS nn,
             CAST(SUM(sv) AS DOUBLE) AS st,
             list_reduce(
               list_concat(
                 [[0.0, 0.0, 0.0]],
                 list([CAST(sv AS DOUBLE), CAST(n AS DOUBLE),
                       CAST(svv AS DOUBLE)] ORDER BY grp)),
               (acc, e) -> [acc[1] + e[1] * e[1] / e[2],
                            acc[2] + e[3],
                            0.0]) AS f0
      FROM s)
    SELECT k AS n_groups, nn AS n_obs,
           CASE WHEN k < 2 OR nn <= k
                  OR (f0[2] - f0[1]) <= 0 THEN NULL
                ELSE ROUND(((f0[1] - st * st / nn) / (k - 1))
                           / ((f0[2] - f0[1]) / (nn - k)), 6)
           END AS levene_w
    FROM arr
    """,
)
def q_agg_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test across the event-type
    cohorts — one-way ANOVA on |x − group MEDIAN| — the
    assumption-check that decides between q_agg_anova_oneway (equal
    variances) and q_agg_welch_t's unequal-variance form, median-
    centered so heavy tails don't inflate the statistic.

    Cross-engine exactness: group medians are LOWER-rank statistics
    off the value-HISTOGRAM cumulative (the q_agg_mad discipline), so
    every deviation z = |v − med| is an exact BIGINT; moments of z
    are exact HUGEINT/DECIMAL, and the k-term float combination runs
    as the same ORDERED group-key fold as q_agg_anova_oneway —
    summation order is engine-fixed.

    100 TB posture: ONE corpus scan builds the (grp, value) histogram;
    medians, deviations, and moments all derive from that bounded
    relation (localCheckpointed for its two consumers)."""
    e = load_table(spark, sf_dir, "events")
    v = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    h = (
        e.select(F.col("event_type").alias("grp"), v.alias("v"))
        .groupBy("grp", "v")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    wq = Window.partitionBy("grp").orderBy("v")
    w = h.select(
        "grp",
        "v",
        "c",
        F.sum("c")
        .over(wq.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
        F.sum("c")
        .over(
            Window.partitionBy("grp").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("n"),
    )
    med = w.groupBy("grp").agg(
        F.min(
            F.when(F.col("cum") >= F.expr("(n + 1) div 2"), F.col("v"))
        )
        .cast("long")
        .alias("m")
    )
    z = h.join(broadcast(med), "grp").select(
        "grp", F.abs(F.col("v") - F.col("m")).alias("z"), "c"
    )
    dz = F.col("z").cast("decimal(18,0)")
    s = z.groupBy("grp").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(dz * F.col("c")).cast("decimal(38,0)").alias("sv"),
        F.sum(dz * dz * F.col("c")).cast("decimal(38,0)").alias("svv"),
    )
    arr = s.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        F.sum("sv").cast("double").alias("st"),
        F.array_sort(
            F.collect_list(
                F.struct(
                    "grp",
                    F.col("sv").cast("double").alias("sv"),
                    F.col("n").cast("double").alias("n"),
                    F.col("svv").cast("double").alias("svv"),
                )
            )
        ).alias("gs"),
    )
    folded = F.aggregate(
        F.col("gs"),
        F.struct(F.lit(0.0).alias("sb"), F.lit(0.0).alias("ss")),
        lambda acc, g: F.struct(
            (acc["sb"] + g["sv"] * g["sv"] / g["n"]).alias("sb"),
            (acc["ss"] + g["svv"]).alias("ss"),
        ),
    )
    withf = arr.select("k", "nn", "st", folded.alias("f"))
    ssb = F.col("f.sb") - F.col("st") * F.col("st") / F.col("nn")
    ssw = F.col("f.ss") - F.col("f.sb")
    return withf.select(
        F.col("k").alias("n_groups"),
        F.col("nn").alias("n_obs"),
        F.when(
            (F.col("k") < 2) | (F.col("nn") <= F.col("k")) | (ssw <= 0),
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.round(
                (ssb / (F.col("k") - 1))
                / (ssw / (F.col("nn") - F.col("k"))),
                6,
            )
        )
        .alias("levene_w"),
    )


@register(
    "q_agg_psi",
    oracle="""
    WITH h AS (
      SELECT CASE WHEN weekofyear(CAST(ts AS DATE)) % 2 = 0
                  THEN 'A' ELSE 'B' END AS per,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    wa AS (
      SELECT v, c, SUM(c) OVER (ORDER BY v) AS cum,
             SUM(c) OVER () AS n
      FROM h WHERE per = 'A'),
    e AS (
      SELECT CAST(MIN(CASE WHEN 5 * cum >= n THEN v END) AS BIGINT)
               AS e1,
             CAST(MIN(CASE WHEN 5 * cum >= 2 * n THEN v END)
                  AS BIGINT) AS e2,
             CAST(MIN(CASE WHEN 5 * cum >= 3 * n THEN v END)
                  AS BIGINT) AS e3,
             CAST(MIN(CASE WHEN 5 * cum >= 4 * n THEN v END)
                  AS BIGINT) AS e4
      FROM wa),
    binned AS (
      SELECT h.per,
             CASE WHEN h.v <= e.e1 THEN 1
                  WHEN h.v <= e.e2 THEN 2
                  WHEN h.v <= e.e3 THEN 3
                  WHEN h.v <= e.e4 THEN 4
                  ELSE 5 END AS bin,
             h.c
      FROM h CROSS JOIN e),
    spine AS (
      SELECT p.per, b.bin,
             COALESCE((SELECT SUM(c) FROM binned x
                       WHERE x.per = p.per AND x.bin = b.bin), 0)
               AS c
      FROM (VALUES ('A'), ('B')) AS p(per),
           (SELECT UNNEST(generate_series(1, 5)) AS bin) AS b),
    tot AS (
      SELECT CAST(SUM(CASE WHEN per = 'A' THEN c END) AS BIGINT)
               AS na,
             CAST(SUM(CASE WHEN per = 'B' THEN c END) AS BIGINT)
               AS nb
      FROM spine),
    terms AS (
      SELECT s.bin,
             CAST(SUM(CASE WHEN s.per = 'A' THEN s.c END) + 1
                  AS DOUBLE) AS ca,
             CAST(SUM(CASE WHEN s.per = 'B' THEN s.c END) + 1
                  AS DOUBLE) AS cb
      FROM spine s GROUP BY s.bin),
    psi AS (
      SELECT t.na, t.nb,
             -- ordered fold over the 5 bins (zero seed prepended):
             -- float summation order fixed on both engines
             list_reduce(
               list_concat(
                 [[0.0, 0.0, 0.0]],
                 (SELECT list([ca, cb, 0.0] ORDER BY bin)
                  FROM terms)),
               (acc, x) -> [acc[1]
                            + (x[1] / (t.na + 5) - x[2] / (t.nb + 5))
                              * LN((x[1] * (t.nb + 5))
                                   / (x[2] * (t.na + 5))),
                            0.0, 0.0]) AS f
      FROM tot t)
    SELECT na AS n_a, nb AS n_b,
           ROUND(f[1], 6) + 0.0 AS psi
    FROM psi
    """,
)
def q_agg_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the event-value distribution
    between EVEN and ODD ISO weeks — the ML-monitoring drift metric
    (PSI < 0.1 stable / > 0.25 shifted) run as an A/A-style
    week-parity self-check: quintile bins are taken from period A's
    own histogram (lower-rank statistics, the q_agg_percentile
    discipline), both periods' masses land in those bins, and
    PSI = Σ (p−q)·ln(p/q) with Laplace +1 smoothing so empty bins
    stay finite.  Complements x_ks_drift (sup-norm) with the
    binned-likelihood view that localizes WHERE mass moved.

    Cross-engine exactness: bin edges are exact integer rank
    statistics; bin masses exact integers; each term's p/q ratio is
    computed as one division of exact integer products,
    (cA+1)(nB+5) / ((cB+1)(nA+5)), and the 5-term sum runs as the
    ORDERED bin fold (zero seed prepended on the DuckDB side — the
    q_agg_anova_oneway mechanism); +0.0 collapses the −0.0 a
    zero-drift round can yield (the q_agg_mutual_info lesson).

    100 TB posture: ONE corpus scan builds the (period, value)
    histogram; edges, spine, and fold all run on that bounded
    relation (localCheckpointed for its two consumers)."""
    ev = load_table(spark, sf_dir, "events")
    v = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    h = (
        ev.select(
            F.when(F.weekofyear(F.to_date("ts")) % 2 == 0, "A")
            .otherwise("B")
            .alias("per"),
            v.alias("v"),
        )
        .groupBy("per", "v")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    wa = h.filter(F.col("per") == "A").select(
        "v",
        "c",
        F.sum("c")
        .over(
            Window.orderBy("v").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cum"),
        F.sum("c")
        .over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("n"),
    )
    e = wa.agg(
        *[
            F.min(
                F.when(
                    5 * F.col("cum") >= k * F.col("n"), F.col("v")
                )
            )
            .cast("long")
            .alias(f"e{k}")
            for k in (1, 2, 3, 4)
        ]
    )
    binned = h.crossJoin(broadcast(e)).select(
        "per",
        F.when(F.col("v") <= F.col("e1"), 1)
        .when(F.col("v") <= F.col("e2"), 2)
        .when(F.col("v") <= F.col("e3"), 3)
        .when(F.col("v") <= F.col("e4"), 4)
        .otherwise(5)
        .alias("bin"),
        "c",
    )
    counts = binned.groupBy("bin").agg(
        F.coalesce(
            F.sum(F.when(F.col("per") == "A", F.col("c"))), F.lit(0)
        )
        .cast("long")
        .alias("ca0"),
        F.coalesce(
            F.sum(F.when(F.col("per") == "B", F.col("c"))), F.lit(0)
        )
        .cast("long")
        .alias("cb0"),
    )
    spine = (
        counts.sparkSession.range(1, 6)
        .select(F.col("id").cast("int").alias("bin"))
        .join(broadcast(counts), "bin", "left")
        .select(
            "bin",
            (F.coalesce(F.col("ca0"), F.lit(0)) + 1)
            .cast("double")
            .alias("ca"),
            (F.coalesce(F.col("cb0"), F.lit(0)) + 1)
            .cast("double")
            .alias("cb"),
        )
    )
    agg = spine.agg(
        (F.sum("ca") - 5).cast("long").alias("n_a"),
        (F.sum("cb") - 5).cast("long").alias("n_b"),
        F.array_sort(
            F.collect_list(F.struct("bin", "ca", "cb"))
        ).alias("bins"),
    )
    na5 = F.col("n_a") + 5
    nb5 = F.col("n_b") + 5
    folded = F.aggregate(
        F.col("bins"),
        F.lit(0.0),
        lambda acc, x: acc
        + (x["ca"] / na5 - x["cb"] / nb5)
        * F.log((x["ca"] * nb5) / (x["cb"] * na5)),
    )
    return agg.select(
        "n_a",
        "n_b",
        (F.round(folded, 6) + 0.0).alias("psi"),
    )


@register(
    "q_agg_pairwise_diffs",
    oracle="""
    WITH c AS (
      SELECT event_type AS grp,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      FROM events),
    s AS (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS HUGEINT) AS sv,
             SUM(CAST(v AS HUGEINT) * v) AS svv
      FROM c GROUP BY grp),
    p AS (
      SELECT a.grp AS grp_a, b.grp AS grp_b,
             a.n AS na, CAST(a.sv AS DOUBLE) AS sa,
             CAST(a.svv AS DOUBLE) AS ssa,
             b.n AS nb, CAST(b.sv AS DOUBLE) AS sb,
             CAST(b.svv AS DOUBLE) AS ssb
      FROM s a JOIN s b ON a.grp < b.grp)
    SELECT grp_a, grp_b, na AS n_a, nb AS n_b,
           ROUND(sa / na / 100 - sb / nb / 100, 6) AS mean_diff,
           CASE WHEN na < 2 OR nb < 2 THEN NULL
                ELSE ROUND((sa / na - sb / nb)
                           / SQRT(((ssa - sa * sa / na) / (na - 1.0))
                                    / na
                                  + ((ssb - sb * sb / nb)
                                     / (nb - 1.0)) / nb), 6)
           END AS welch_t,
           CASE WHEN na < 2 OR nb < 2
                  OR ((ssa - sa * sa / na) + (ssb - sb * sb / nb))
                     / (na + nb - 2.0) <= 0 THEN NULL
                ELSE ROUND((sa / na - sb / nb)
                           / SQRT(((ssa - sa * sa / na)
                                   + (ssb - sb * sb / nb))
                                  / (na + nb - 2.0)), 6)
           END AS cohens_d
    FROM p
    """,
)
def q_agg_pairwise_diffs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-hoc pairwise comparison table — every event-type cohort
    pair's mean difference, Welch t, and Cohen's d — the table an
    analyst reads AFTER q_agg_anova_oneway rejects "all equal" (which
    pair differs, by how much, and does it matter).  k(k−1)/2 rows
    from ONE scan: the k-row exact-moment relation self-joins on
    grp < grp.

    Cross-engine exactness: per-group moments exact integers; every
    pair statistic is ONE fixed-order double expression over the six
    exact moments of that pair (no multi-term float accumulation, so
    no fold is needed — the q_agg_welch_t/q_agg_cohens_d expressions
    verbatim, per pair), rounded to 6.

    100 TB posture: one partial-agg shuffle onto |types| groups; the
    pair expansion is a k-row broadcast self-join."""
    e = load_table(spark, sf_dir, "events")
    v = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    s = (
        e.select(F.col("event_type").alias("grp"), v.alias("v"))
        .groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("v").cast("decimal(38,0)")).alias("sv"),
            F.sum(
                F.col("v").cast("decimal(18,0)")
                * F.col("v").cast("decimal(18,0)")
            ).alias("svv"),
        )
        .localCheckpoint(eager=True)
    )
    a = s.alias("a")
    b = s.alias("b")
    p = a.join(
        broadcast(b), F.col("a.grp") < F.col("b.grp")
    ).select(
        F.col("a.grp").alias("grp_a"),
        F.col("b.grp").alias("grp_b"),
        F.col("a.n").alias("na"),
        F.col("a.sv").cast("double").alias("sa"),
        F.col("a.svv").cast("double").alias("ssa"),
        F.col("b.n").alias("nb"),
        F.col("b.sv").cast("double").alias("sb"),
        F.col("b.svv").cast("double").alias("ssb"),
    )
    var_a = (
        F.col("ssa") - F.col("sa") * F.col("sa") / F.col("na")
    ) / (F.col("na") - 1.0)
    var_b = (
        F.col("ssb") - F.col("sb") * F.col("sb") / F.col("nb")
    ) / (F.col("nb") - 1.0)
    mdiff = F.col("sa") / F.col("na") - F.col("sb") / F.col("nb")
    sp2 = (
        (F.col("ssa") - F.col("sa") * F.col("sa") / F.col("na"))
        + (F.col("ssb") - F.col("sb") * F.col("sb") / F.col("nb"))
    ) / (F.col("na") + F.col("nb") - 2.0)
    small = (F.col("na") < 2) | (F.col("nb") < 2)
    return p.select(
        "grp_a",
        "grp_b",
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.round(
            F.col("sa") / F.col("na") / 100
            - F.col("sb") / F.col("nb") / 100,
            6,
        ).alias("mean_diff"),
        F.when(small, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                mdiff
                / F.sqrt(var_a / F.col("na") + var_b / F.col("nb")),
                6,
            )
        )
        .alias("welch_t"),
        F.when(small | (sp2 <= 0), F.lit(None).cast("double"))
        .otherwise(F.round(mdiff / F.sqrt(sp2), 6))
        .alias("cohens_d"),
    )


@register(
    "q_agg_jarque_bera",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(q) AS BIGINT) AS DOUBLE) AS s1,
             CAST(CAST(SUM(q * q) AS BIGINT) AS DOUBLE) AS s2,
             CAST(CAST(SUM(q * q * q) AS BIGINT) AS DOUBLE) AS s3,
             CAST(CAST(SUM(q * q * q * q) AS BIGINT) AS DOUBLE) AS s4
      FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q
            FROM lineitem)
      GROUP BY l_returnflag),
    m AS (
      SELECT l_returnflag, n, s1 / n AS m1, s2, s3, s4 FROM s),
    v AS (
      SELECT l_returnflag, n, m1, s3, s4,
             s2 / n - m1 * m1 AS var_pop FROM m),
    sk AS (
      SELECT l_returnflag, n, var_pop,
             (s3 / n - 3 * m1 * (var_pop + m1 * m1)
              + 2 * m1 * m1 * m1) / POW(var_pop, 1.5) AS skw,
             (s4 / n - 4 * m1 * (s3 / n)
              + 6 * m1 * m1 * (var_pop + m1 * m1)
              - 3 * m1 * m1 * m1 * m1)
             / (var_pop * var_pop) - 3 AS kurt
      FROM v WHERE var_pop > 0)
    SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
           ROUND(n / 6 * (skw * skw + kurt * kurt / 4), 6) AS jb_stat,
           n / 6 * (skw * skw + kurt * kurt / 4) > 5.99 AS reject_normal_5pct
    FROM sk
    """,
)
def q_agg_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test per return-flag cohort: JB =
    n/6·(S² + K²/4) from the same exact integer power sums as
    q_agg_skew_kurt, with the χ²(2) 5% critical value 5.99 as the
    decision literal — the screen that tells a modeling pipeline
    whether z-score-based rules (q_anomaly_zscore_daily's tier) are
    even applicable to a measure, or whether the robust tier
    (q_agg_mad / q_ts_theil_sen) is required.

    Cross-engine exactness: the q_agg_skew_kurt discipline verbatim —
    Σq..Σq⁴ exact BIGINTs, one fixed-order double expression, rounded
    6; the rejection boolean compares the UNROUNDED statistic on both
    engines; zero-variance cohorts are excluded on both sides (the
    S/K expressions are undefined there).

    100 TB posture: the identical four-BIGINT-accumulator partial-agg
    shuffle as skew_kurt — JB adds only |groups|-sized projection
    work on top."""
    li = load_table(spark, sf_dir, "lineitem")
    s = li.select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("q")
    ).groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("q").cast("double").alias("s1"),
        F.sum(F.col("q") * F.col("q")).cast("double").alias("s2"),
        F.sum(F.col("q") * F.col("q") * F.col("q"))
        .cast("double")
        .alias("s3"),
        F.sum(
            F.col("q") * F.col("q") * F.col("q") * F.col("q")
        )
        .cast("double")
        .alias("s4"),
    )
    m1 = F.col("s1") / F.col("n")
    var_pop = F.col("s2") / F.col("n") - m1 * m1
    skw = (
        F.col("s3") / F.col("n")
        - 3 * m1 * (var_pop + m1 * m1)
        + 2 * m1 * m1 * m1
    ) / F.pow(var_pop, 1.5)
    kurt = (
        F.col("s4") / F.col("n")
        - 4 * m1 * (F.col("s3") / F.col("n"))
        + 6 * m1 * m1 * (var_pop + m1 * m1)
        - 3 * m1 * m1 * m1 * m1
    ) / (var_pop * var_pop) - 3
    jb = F.col("n") / 6 * (skw * skw + kurt * kurt / 4)
    return (
        s.filter(var_pop > 0)
        .select(
            "l_returnflag",
            F.col("n").cast("long").alias("n_rows"),
            F.round(jb, 6).alias("jb_stat"),
            (jb > 5.99).alias("reject_normal_5pct"),
        )
    )


@register(
    "q_agg_log_rank",
    oracle="""
    WITH u AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN ts END) AS s_ts,
             MAX(ts) AS last_ts
      FROM events GROUP BY user_id
      HAVING MIN(CASE WHEN event_type = 'signup' THEN ts END)
             IS NOT NULL),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS c_ts
      FROM events e JOIN u ON u.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= u.s_ts
      GROUP BY e.user_id),
    dd AS (
      SELECT u.user_id, CAST(u.user_id % 2 AS INTEGER) AS grp,
             CASE WHEN p.c_ts IS NOT NULL
                  THEN date_diff('day', CAST(u.s_ts AS DATE),
                                 CAST(p.c_ts AS DATE))
                  ELSE date_diff('day', CAST(u.s_ts AS DATE),
                                 CAST(u.last_ts AS DATE)) END AS dur,
             CASE WHEN p.c_ts IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM u LEFT JOIN p ON p.user_id = u.user_id),
    h AS (
      SELECT dur,
             CAST(SUM(CASE WHEN grp = 0 THEN ev ELSE 0 END) AS BIGINT)
               AS d1,
             CAST(SUM(CASE WHEN grp = 1 THEN ev ELSE 0 END) AS BIGINT)
               AS d2,
             CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS t1,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS t2
      FROM dd GROUP BY dur),
    r AS (
      SELECT dur, d1, d2,
             CAST(SUM(t1) OVER (ORDER BY dur DESC) AS BIGINT) AS n1t,
             CAST(SUM(t2) OVER (ORDER BY dur DESC) AS BIGINT) AS n2t
      FROM h),
    terms AS (
      SELECT d1,
             CAST(ROUND(CAST((d1 + d2) * n1t AS DOUBLE)
                        / (n1t + n2t), 6) AS DECIMAL(28,6)) AS e1,
             CASE WHEN n1t + n2t > 1 THEN
               CAST(ROUND(CAST((d1 + d2) AS DOUBLE) * n1t
                          / (n1t + n2t)
                          * n2t / (n1t + n2t)
                          * (n1t + n2t - d1 - d2)
                          / (n1t + n2t - 1), 6)
                    AS DECIMAL(28,6))
             ELSE CAST(0 AS DECIMAL(28,6)) END AS v1
      FROM r WHERE d1 + d2 > 0),
    agg AS (
      SELECT CAST(SUM(d1) AS BIGINT) AS o1, SUM(e1) AS e1,
             SUM(v1) AS v1
      FROM terms),
    base AS (
      SELECT CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1_users,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n2_users
      FROM dd)
    SELECT b.n1_users, b.n2_users, a.o1,
           ROUND(CAST(a.e1 AS DOUBLE), 6) AS e1,
           CASE WHEN CAST(a.v1 AS DOUBLE) > 0 THEN
             ROUND((a.o1 - CAST(a.e1 AS DOUBLE))
                   / sqrt(CAST(a.v1 AS DOUBLE)), 6)
           END AS lr_z
    FROM agg a, base b
    """,
)
def q_agg_log_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test between two user cohorts' signup→purchase
    survival curves (q_agg_survival_km's durations; cohort =
    user_id parity, the deterministic stand-in for an experiment
    flag): at each event time, observed group-0 conversions vs the
    hypergeometric expectation E1 = d·n1/n and variance
    d·(n1/n)·(n2/n)·(n−d)/(n−1); z = (O1−ΣE1)/√ΣV — "did arm A
    convert faster than arm B, censoring handled correctly", the
    A/B-testing statistic naive conversion-rate cuts get wrong.

    Cross-engine exactness: d's and the at-risk counts are exact
    BIGINTs per event time (descending histogram cumsums, the
    survival_km discipline); each E/V term is ONE fixed-order double
    expression ROUNDED TO 6 and accumulated in DECIMAL(28,6)
    (order-free — the q_agg_entropy mechanism); the close-out z is
    one division + sqrt, rounded 6; zero variance → NULL on both
    engines.

    100 TB posture: the same two corpus passes as survival_km
    (per-user agg + purchase-after-signup min); all test arithmetic
    runs on the |distinct durations| histogram."""
    ev = load_table(spark, sf_dir, "events")
    u = (
        ev.groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "signup", F.col("ts"))
            ).alias("s_ts"),
            F.max("ts").alias("last_ts"),
        )
        .filter(F.col("s_ts").isNotNull())
        # two consumers, |users|-bounded (the survival_km discipline)
        .localCheckpoint(eager=True)
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(u.select("user_id", "s_ts"), "user_id")
        .filter(F.col("ts") >= F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    dd = u.join(p, "user_id", "left").select(
        (F.col("user_id") % 2).cast("int").alias("grp"),
        F.when(
            F.col("c_ts").isNotNull(),
            F.datediff(F.to_date("c_ts"), F.to_date("s_ts")),
        )
        .otherwise(F.datediff(F.to_date("last_ts"), F.to_date("s_ts")))
        .alias("dur"),
        F.when(F.col("c_ts").isNotNull(), 1).otherwise(0).alias("ev"),
    ).localCheckpoint(eager=True)  # two consumers: histogram + base
    h = dd.groupBy("dur").agg(
        F.sum(F.when(F.col("grp") == 0, F.col("ev")).otherwise(0))
        .cast("long")
        .alias("d1"),
        F.sum(F.when(F.col("grp") == 1, F.col("ev")).otherwise(0))
        .cast("long")
        .alias("d2"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("long")
        .alias("t1"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("long")
        .alias("t2"),
    )
    w_desc = Window.orderBy(F.col("dur").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = h.select(
        "dur",
        "d1",
        "d2",
        F.sum("t1").over(w_desc).cast("long").alias("n1t"),
        F.sum("t2").over(w_desc).cast("long").alias("n2t"),
    ).filter(F.col("d1") + F.col("d2") > 0)
    nt = F.col("n1t") + F.col("n2t")
    d = F.col("d1") + F.col("d2")
    e1_term = F.round(
        (d * F.col("n1t")).cast("double") / nt, 6
    ).cast("decimal(28,6)")
    v1_term = F.when(
        nt > 1,
        F.round(
            d.cast("double")
            * F.col("n1t")
            / nt
            * F.col("n2t")
            / nt
            * (nt - d)
            / (nt - 1),
            6,
        ).cast("decimal(28,6)"),
    ).otherwise(F.lit(0).cast("decimal(28,6)"))
    agg = r.select(
        "d1", e1_term.alias("e1"), v1_term.alias("v1")
    ).agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum("e1").alias("e1"),
        F.sum("v1").alias("v1"),
    )
    base = dd.agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n1_users"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n2_users"),
    )
    ed = F.col("e1").cast("double")
    vd = F.col("v1").cast("double")
    return base.crossJoin(agg).select(
        "n1_users",
        "n2_users",
        "o1",
        F.round(ed, 6).alias("e1"),
        F.when(
            vd > 0,
            F.round((F.col("o1") - ed) / F.sqrt(vd), 6),
        ).alias("lr_z"),
    )


WILSON_Z = "1.96"  # 95% two-sided normal quantile (shared literal)


@register(
    "q_agg_rate_wilson_ci",
    oracle=f"""
    WITH d AS (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1
                      ELSE 0 END) AS BIGINT) AS k
      FROM events GROUP BY 1)
    SELECT day, n, k,
           ROUND(CAST(k AS DOUBLE) / n, 6) AS rate,
           ROUND((CAST(k AS DOUBLE) / n
                  + {WILSON_Z} * {WILSON_Z} / (2 * n)
                  - {WILSON_Z}
                    * sqrt(CAST(k AS DOUBLE) / n
                           * (1 - CAST(k AS DOUBLE) / n) / n
                           + {WILSON_Z} * {WILSON_Z}
                             / (4.0 * n * n)))
                 / (1 + {WILSON_Z} * {WILSON_Z} / n), 6) AS wilson_lo,
           ROUND((CAST(k AS DOUBLE) / n
                  + {WILSON_Z} * {WILSON_Z} / (2 * n)
                  + {WILSON_Z}
                    * sqrt(CAST(k AS DOUBLE) / n
                           * (1 - CAST(k AS DOUBLE) / n) / n
                           + {WILSON_Z} * {WILSON_Z}
                             / (4.0 * n * n)))
                 / (1 + {WILSON_Z} * {WILSON_Z} / n), 6) AS wilson_hi
    FROM d
    """,
)
def q_agg_rate_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily purchase-share with a Wilson score 95% interval — the
    proportion CI that behaves at the boundaries (k=0 or k=n give
    sensible asymmetric intervals where the Wald ±z√(p̂q̂/n) collapses
    to a point) and at small n — the per-cell uncertainty layer a
    metrics dashboard needs before alerting on a rate change
    (q_anomaly_zscore_daily flags the point move; this says whether
    the day's sample even supports it).

    Cross-engine exactness: k and n are exact integers; p̂ = k/n is
    one IEEE division and the Wilson bounds are ONE fixed-order double
    expression each with the z literal shared textually, rounded 6;
    sqrt is correctly rounded on both engines.

    100 TB posture: one map-side partial agg onto the |days| grid;
    everything else is |days|-sized projection."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.to_date("ts").cast("string").alias("day")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("long")
        .alias("k"),
    )
    z = F.lit(float(WILSON_Z))
    n = F.col("n")
    p = F.col("k").cast("double") / n
    half = z * F.sqrt(
        p * (1 - p) / n + z * z / (F.lit(4.0) * n * n)
    )
    center = p + z * z / (2 * n)
    denom = 1 + z * z / n
    return d.select(
        "day",
        "n",
        "k",
        F.round(p, 6).alias("rate"),
        F.round((center - half) / denom, 6).alias("wilson_lo"),
        F.round((center + half) / denom, 6).alias("wilson_hi"),
    )


@register(
    "q_ts_seasonal_strength",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    tr AS (
      SELECT event_type, d, c,
             CAST(isodow(d) AS INTEGER) AS dow,
             CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY d
                               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                  AS BIGINT) AS s7,
             COUNT(*) OVER (PARTITION BY event_type ORDER BY d
                            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
               AS w
      FROM daily),
    det AS (
      SELECT event_type, dow, {DECOMP_W} * c - s7 AS det7
      FROM tr WHERE w = {DECOMP_W}),
    g AS (
      SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS ng,
             CAST(SUM(det7) AS HUGEINT) AS sg,
             SUM(CAST(det7 AS HUGEINT) * det7) AS sgg
      FROM det GROUP BY event_type, dow),
    parts AS (
      SELECT event_type,
             CAST(SUM(ng) AS BIGINT) AS n,
             SUM(sg) AS s,
             SUM(sgg) AS ss,
             SUM(CAST(ROUND(CAST(sgg AS DOUBLE)
                            - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
                              / ng, 6) AS DECIMAL(38,6))) AS ssw
      FROM g GROUP BY event_type)
    SELECT event_type, n AS n_windows,
           CASE WHEN n * ss - s * s > 0 THEN
             ROUND(GREATEST(0.0,
               1.0 - CAST(ssw AS DOUBLE)
                     / (CAST(n * ss - s * s AS DOUBLE) / n)), 6)
           END AS seasonal_strength
    FROM parts
    """,
)
def q_ts_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality STRENGTH per event type (Hyndman's F_s, STL-lite):
    1 − Var(remainder)/Var(detrended), where detrended = seasonal +
    remainder — computed as the ANOVA decomposition of the EXACT
    integer det7 values (q_ts_decompose_ma's {DECOMP_W}·x − Σ₇ trick)
    grouped by ISO weekday: within-dow sum of squares IS the
    remainder variance mass, total SS the detrended mass, so
    F_s = max(0, 1 − SSW/SST).  One number per series answering "is
    the weekly cycle worth modeling" — the screen that routes between
    q_ts_holt (no seasonality) and q_ts_holt_winters (weekly).

    Cross-engine exactness: SST = nΣd²−(Σd)² is fully exact
    (HUGEINT/DECIMAL); SSW needs one division per dow group, so each
    group's term is rounded to 6 and accumulated in DECIMAL(38,6) —
    the q_agg_entropy order-free discipline; the close-out is one
    fixed-order double expression with GREATEST pinned at 0; constant
    series → NULL on both engines.

    100 TB posture: one corpus-sized (type, day) partial agg; the
    centered window and both SS aggregations run on the
    |types|·|days|-bounded daily relation."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count("*").cast("long").alias("c"))
    w7 = Window.partitionBy("event_type").orderBy("d").rowsBetween(-3, 3)
    tr = daily.select(
        "event_type",
        ((F.dayofweek("d") + 5) % 7 + 1).cast("int").alias("dow"),
        (F.lit(DECOMP_W) * F.col("c") - F.sum("c").over(w7))
        .cast("long")
        .alias("det7"),
        F.count("*").over(w7).alias("w"),
    ).filter(F.col("w") == DECOMP_W)
    dg = F.col("det7").cast("decimal(38,0)")
    g = tr.groupBy("event_type", "dow").agg(
        F.count("*").cast("long").alias("ng"),
        F.sum(dg).alias("sg"),
        F.sum(dg * F.col("det7")).alias("sgg"),
    )
    ssw_term = F.round(
        F.col("sgg").cast("double")
        - F.col("sg").cast("double")
        * F.col("sg").cast("double")
        / F.col("ng"),
        6,
    ).cast("decimal(38,6)")
    parts = g.groupBy("event_type").agg(
        F.sum("ng").cast("long").alias("n"),
        F.sum("sg").alias("s"),
        F.sum("sgg").alias("ss"),
        F.sum(ssw_term).alias("ssw"),
    )
    nd = F.col("n").cast("decimal(38,0)")
    sst_num = nd * F.col("ss") - F.col("s") * F.col("s")
    return parts.select(
        "event_type",
        F.col("n").alias("n_windows"),
        F.when(
            sst_num > 0,
            F.round(
                F.greatest(
                    F.lit(0.0),
                    F.lit(1.0)
                    - F.col("ssw").cast("double")
                    / (sst_num.cast("double") / F.col("n")),
                ),
                6,
            ),
        ).alias("seasonal_strength"),
    )


# chi-squared 95% critical values for df 1..10 (Friedman decision);
# literal in BOTH engines so the reject flag is engine-independent
CHI2_CRIT_95 = {
    1: 3.841, 2: 5.991, 3: 7.815, 4: 9.488, 5: 11.070,
    6: 12.592, 7: 14.067, 8: 15.507, 9: 16.919, 10: 18.307,
}
_CHI2_CASE = " ".join(
    f"WHEN {df} THEN {v}" for df, v in CHI2_CRIT_95.items()
)
# out-of-range df must FAIL LOUDLY, not NULL the reject flag (ADVICE
# r12/2): both engines raise from the CASE's ELSE arm — `raise_error`
# on Spark, `error()` on DuckDB — with the offending df in the message
_CHI2_ELSE_SPARK = (
    "ELSE CAST(raise_error(CONCAT('q_agg_friedman: chi2 table covers "
    "df 1..10, got df=', CAST(k - 1 AS STRING))) AS DOUBLE) END"
)
_CHI2_ELSE_DUCK = (
    "ELSE CAST(error('q_agg_friedman: chi2 table covers df 1..10, "
    "got df=' || CAST(dims.k - 1 AS VARCHAR)) AS DOUBLE) END"
)


@register(
    "q_agg_friedman",
    oracle=f"""
    WITH days AS (
      SELECT DISTINCT CAST(CAST(ts AS DATE) AS VARCHAR) AS day
      FROM events),
    types AS (SELECT DISTINCT event_type FROM events),
    cnt AS (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    grid AS (
      SELECT d.day, t.event_type, COALESCE(c.n, 0) AS n
      FROM days d CROSS JOIN types t
      LEFT JOIN cnt c ON c.day = d.day AND c.event_type = t.event_type),
    rk AS (
      SELECT day, event_type,
             CAST(RANK() OVER (PARTITION BY day ORDER BY n) AS BIGINT)
               AS rmin,
             CAST(COUNT(*) OVER (PARTITION BY day, n) AS BIGINT)
               AS cties
      FROM grid),
    r2 AS (
      SELECT event_type,
             CAST(SUM(2 * rmin + cties - 1) AS BIGINT) AS rank_sum_x2
      FROM rk GROUP BY event_type),
    dims AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k FROM types),
    nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM days),
    q AS (
      SELECT ROUND(
               3.0 * SUM(CAST(rank_sum_x2 * rank_sum_x2 AS DOUBLE))
                 / (nb.n * dims.k * (dims.k + 1))
               - 3.0 * nb.n * (dims.k + 1), 6) AS friedman_q
      FROM r2, dims, nb GROUP BY nb.n, dims.k)
    SELECT r2.event_type, r2.rank_sum_x2,
           ROUND(CAST(r2.rank_sum_x2 AS DOUBLE) / (2 * nb.n), 6)
             AS mean_rank,
           nb.n AS n_blocks, dims.k AS k,
           q.friedman_q,
           CAST(dims.k - 1 AS BIGINT) AS df,
           CASE dims.k - 1 {_CHI2_CASE} {_CHI2_ELSE_DUCK} AS chi2_crit_95,
           q.friedman_q
             > (CASE dims.k - 1 {_CHI2_CASE} {_CHI2_ELSE_DUCK}) AS reject
    FROM r2, dims, nb, q
    """,
)
def q_agg_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test — the non-parametric repeated-measures ANOVA:
    do the event types differ in daily volume once every DAY serves as
    its own block?  Each calendar day ranks the k event types by count
    (ties get average ranks); Q = 12/(nk(k+1))·ΣR_j² − 3n(k+1) ~ χ²(k−1)
    under exchangeability.  Completes the blocked-design corner of the
    stats tier: q_agg_anova_oneway (independent parametric),
    q_agg_kruskal_wallis (independent ranks), this (blocked ranks) —
    robust to the day-to-day volume drift that inflates Kruskal-Wallis.

    Mechanics: the day × type grid is completed (missing cells = 0) so
    every block ranks ALL k treatments; average ranks stay EXACT as
    2·rank integers (2·avgrank = 2·RANK() + ties − 1 — half-integers
    never touch a float), so ΣR_j² enters the statistic as BIGINT²/4
    and Q = 3·Σ(2R_j)²/(nk(k+1)) − 3n(k+1) is ONE double expression.
    Classical (tie-uncorrected) statistic, documented as such.  The
    reject decision compares the rounded Q against the literal χ²(df)
    95% table shared textually by both engines (the q_agg_jarque_bera
    convention); a df OUTSIDE the table (k−1 > 10) raises loudly on
    both engines from the CASE's ELSE arm instead of silently NULLing
    the reject flag (ADVICE r12/2).

    100 TB posture: one corpus-sized (day, type) partial-agg count; the
    grid completion, rank windows and rollup all ride the |days|·k
    bounded relation.  Day blocks make the rank window's partition key
    the date — no skew, k rows per partition."""
    ev = load_table(spark, sf_dir, "events")
    cnt = (
        ev.groupBy(
            F.to_date("ts").cast("string").alias("day"), "event_type"
        )
        .agg(F.count("*").cast("long").alias("n"))
        .localCheckpoint(eager=True)
    )
    days = cnt.select("day").distinct()
    types = cnt.select("event_type").distinct()
    grid = (
        days.crossJoin(types)
        .join(cnt, ["day", "event_type"], "left")
        .select(
            "day", "event_type", F.coalesce("n", F.lit(0)).alias("n")
        )
    )
    wd = Window.partitionBy("day").orderBy("n")
    wt = Window.partitionBy("day", "n")
    rk = grid.select(
        "day",
        "event_type",
        F.rank().over(wd).cast("long").alias("rmin"),
        F.count("*").over(wt).cast("long").alias("cties"),
    )
    r2 = (
        rk.groupBy("event_type")
        .agg(
            F.sum(2 * F.col("rmin") + F.col("cties") - 1)
            .cast("long")
            .alias("rank_sum_x2")
        )
        .localCheckpoint(eager=True)
    )
    dims = types.agg(F.count("*").cast("long").alias("k"))
    nb = days.agg(F.count("*").cast("long").alias("n"))
    q = (
        r2.crossJoin(dims)
        .crossJoin(nb)
        .groupBy("n", "k")
        .agg(
            F.round(
                F.lit(3.0)
                * F.sum(
                    (F.col("rank_sum_x2") * F.col("rank_sum_x2")).cast(
                        "double"
                    )
                )
                / (F.col("n") * F.col("k") * (F.col("k") + 1))
                - F.lit(3.0) * F.col("n") * (F.col("k") + 1),
                6,
            ).alias("friedman_q")
        )
        .select("friedman_q")
    )
    crit = F.expr(f"CASE k - 1 {_CHI2_CASE} {_CHI2_ELSE_SPARK}")
    return (
        r2.crossJoin(dims)
        .crossJoin(nb)
        .crossJoin(q)
        .select(
            "event_type",
            "rank_sum_x2",
            F.round(
                F.col("rank_sum_x2").cast("double") / (2 * F.col("n")), 6
            ).alias("mean_rank"),
            F.col("n").alias("n_blocks"),
            "k",
            "friedman_q",
            (F.col("k") - 1).cast("long").alias("df"),
            crit.alias("chi2_crit_95"),
            (F.col("friedman_q") > crit).alias("reject"),
        )
    )


BOLL_W = 7  # rolling window width (days, ROWS frame)
BOLL_K = 2  # band half-width in rolling population stddevs
# Overflow guard for the micro-grid variance (ADVICE r12/3): with
# |mu| < 1e17 the worst window terms are |s| <= 7e17 -> s*s <= 4.9e35
# and n*sq <= 7*7e34 = 4.9e35, both far inside DECIMAL(38,0)'s 1e38 —
# Spark's non-ANSI decimal multiply would NULL silently past that where
# DuckDB raises, so BOTH engines now raise at the same explicit knee.
# Observed daily micro-unit totals are ~1e15-1e16 at sf1-sf10: two
# orders of headroom.
BOLL_MU_HEADROOM = 10**17


@register(
    "q_ts_bollinger",
    oracle=f"""
    WITH d0 AS (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,6)) * 1000000)
                  AS DECIMAL(38,0)) AS mu
      FROM events GROUP BY 1),
    d AS (
      SELECT day,
             CASE WHEN ABS(mu) < {BOLL_MU_HEADROOM}
                  THEN mu
                  ELSE CAST(error('q_ts_bollinger: daily micro-unit '
                       || 'total exceeds DECIMAL(38,0) variance '
                       || 'headroom') AS DECIMAL(38,0)) END AS mu
      FROM d0),
    w AS (
      SELECT day, mu,
             CAST(COUNT(*) OVER win AS BIGINT) AS n_win,
             CAST(SUM(mu) OVER win AS DECIMAL(38,0)) AS s,
             CAST(SUM(mu * mu) OVER win AS DECIMAL(38,0)) AS sq
      FROM d
      WINDOW win AS (ORDER BY day ROWS {BOLL_W - 1} PRECEDING)),
    v AS (
      SELECT day, mu, n_win, s,
             CAST(n_win * sq - s * s AS DECIMAL(38,0)) AS var_num
      FROM w)
    SELECT day,
           ROUND(CAST(mu AS DOUBLE) / 1000000.0, 6) AS total,
           n_win,
           ROUND(CAST(s AS DOUBLE) / n_win / 1000000.0, 6) AS sma,
           ROUND(sqrt(CAST(var_num AS DOUBLE)) / n_win / 1000000.0, 6)
             AS sd,
           ROUND((CAST(s AS DOUBLE) / n_win
                  + {BOLL_K} * sqrt(CAST(var_num AS DOUBLE)) / n_win)
                 / 1000000.0, 6) AS upper_band,
           ROUND((CAST(s AS DOUBLE) / n_win
                  - {BOLL_K} * sqrt(CAST(var_num AS DOUBLE)) / n_win)
                 / 1000000.0, 6) AS lower_band,
           CASE WHEN n_win < {BOLL_W} THEN NULL
                WHEN ROUND(CAST(mu AS DOUBLE) / 1000000.0, 6)
                     > ROUND((CAST(s AS DOUBLE) / n_win
                              + {BOLL_K} * sqrt(CAST(var_num AS DOUBLE))
                                / n_win) / 1000000.0, 6) THEN 'up'
                WHEN ROUND(CAST(mu AS DOUBLE) / 1000000.0, 6)
                     < ROUND((CAST(s AS DOUBLE) / n_win
                              - {BOLL_K} * sqrt(CAST(var_num AS DOUBLE))
                                / n_win) / 1000000.0, 6) THEN 'down'
                ELSE 'in' END AS breakout
    FROM v
    """,
)
def q_ts_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands on the daily event-value total: {BOLL_W}-day
    rolling mean ± {BOLL_K}·(rolling population σ), with a breakout flag
    when a day closes outside its own band — the volatility-adaptive
    envelope that complements q_ts_ewma (level), q_anomaly_zscore_daily
    (global-distribution z) and q_ts_cusum (drift): the band widens in
    volatile regimes so one-off spikes in a noisy week don't alert.

    Cross-engine exactness: daily totals ride the micro-unit (1e-6)
    INTEGER grid — DECIMAL(38,0) ≡ HUGEINT window sums and sums of
    squares, so nΣx²−(Σx)² is an EXACT non-negative integer (Cauchy-
    Schwarz holds exactly; no GREATEST clamp needed) regardless of the
    engines' window-frame association order.  The ONLY decimal→double
    cast is of that exact integer: at sf1 the earlier fractional-
    DECIMAL(·,12) form split an ulp in DuckDB's two-step int128/10^12
    conversion and flipped σ's 6th decimal — the micro-grid kills the
    class (q_agg_cohens_d's discipline).  σ = √var_num / n and the
    bands are ONE fixed-order double expression rounded 6; the breakout
    flag compares the ROUNDED total to the ROUNDED bands so an ulp can
    never flip it.  Warm-up rows (n_win < {BOLL_W}) emit NULL
    breakout.  Daily totals past BOLL_MU_HEADROOM (1e17 micro-units;
    see the constant's headroom math) raise LOUDLY on both engines
    instead of Spark silently NULLing the overflowed variance while
    DuckDB throws (ADVICE r12/3).

    100 TB posture: one corpus-sized (day) partial-agg; the rolling
    window rides the |days| relation ordered by day — at scale that
    window partitions by (series) when there are many series; here the
    single series is |days|-bounded, the documented global-window
    exception."""
    ev = load_table(spark, sf_dir, "events")
    d0 = ev.groupBy(F.to_date("ts").cast("string").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,6)") * 1000000)
        .cast("decimal(38,0)")
        .alias("mu")
    )
    # loud overflow knee (ADVICE r12/3): past BOLL_MU_HEADROOM the
    # decimal products below would NULL silently in Spark's non-ANSI
    # multiply; raise instead, mirroring the oracle's error() arm
    d = d0.select(
        "day",
        F.when(F.abs(F.col("mu")) < F.lit(BOLL_MU_HEADROOM), F.col("mu"))
        .otherwise(
            F.expr(
                "CAST(raise_error('q_ts_bollinger: daily micro-unit "
                "total exceeds DECIMAL(38,0) variance headroom') "
                "AS DECIMAL(38,0))"
            )
        )
        .alias("mu"),
    )
    win = Window.orderBy("day").rowsBetween(-(BOLL_W - 1), 0)
    w = d.select(
        "day",
        "mu",
        F.count("*").over(win).cast("long").alias("n_win"),
        F.sum("mu").over(win).cast("decimal(38,0)").alias("s"),
        F.sum(F.col("mu") * F.col("mu"))
        .over(win)
        .cast("decimal(38,0)")
        .alias("sq"),
    )
    v = w.select(
        "day",
        "mu",
        "n_win",
        "s",
        (F.col("n_win") * F.col("sq") - F.col("s") * F.col("s"))
        .cast("decimal(38,0)")
        .alias("var_num"),
    )
    n = F.col("n_win")
    s = F.col("s").cast("double")
    sdraw = F.sqrt(F.col("var_num").cast("double")) / n
    mean = s / n
    tot6 = F.round(F.col("mu").cast("double") / 1000000.0, 6)
    up6 = F.round((mean + BOLL_K * sdraw) / 1000000.0, 6)
    lo6 = F.round((mean - BOLL_K * sdraw) / 1000000.0, 6)
    return v.select(
        "day",
        tot6.alias("total"),
        "n_win",
        F.round(mean / 1000000.0, 6).alias("sma"),
        F.round(sdraw / 1000000.0, 6).alias("sd"),
        up6.alias("upper_band"),
        lo6.alias("lower_band"),
        F.when(n < BOLL_W, F.lit(None).cast("string"))
        .when(tot6 > up6, F.lit("up"))
        .when(tot6 < lo6, F.lit("down"))
        .otherwise(F.lit("in"))
        .alias("breakout"),
    )


TT_Z95 = 1.96  # normal-approx two-sided 95% critical value (df >> 30)


@register(
    "q_agg_ttest_paired",
    oracle=f"""
    WITH e AS (
      SELECT user_id,
             SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                                AS BIGINT) END) AS sp,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS np,
             SUM(CASE WHEN event_type = 'click'
                      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                                AS BIGINT) END) AS sc,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS nc
      FROM events WHERE event_type IN ('purchase', 'click')
      GROUP BY user_id),
    d AS (
      SELECT CAST(sp - sc AS BIGINT) AS diff
      FROM e WHERE np > 0 AND nc > 0),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(diff) AS BIGINT) AS s1,
             CAST(SUM(CAST(diff AS DECIMAL(38,0))
                      * CAST(diff AS DECIMAL(38,0))) AS DECIMAL(38,0))
               AS s2
      FROM d)
    SELECT n AS n_pairs,
           ROUND(CAST(s1 AS DOUBLE) / n / 100.0, 6) AS mean_diff,
           ROUND(sqrt((n * CAST(s2 AS DOUBLE)
                       - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                      / (CAST(n AS DOUBLE) * (n - 1))) / 100.0, 6)
             AS sd_diff,
           ROUND((CAST(s1 AS DOUBLE) / n)
                 / (sqrt((n * CAST(s2 AS DOUBLE)
                          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                         / (CAST(n AS DOUBLE) * (n - 1))) / sqrt(n)), 6)
             AS t_stat,
           CAST(n - 1 AS BIGINT) AS df,
           ABS(ROUND((CAST(s1 AS DOUBLE) / n)
                 / (sqrt((n * CAST(s2 AS DOUBLE)
                          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                         / (CAST(n AS DOUBLE) * (n - 1))) / sqrt(n)), 6))
             > {TT_Z95} AS reject_95
    FROM m
    """,
)
def q_agg_ttest_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired t-test on the SAME per-user purchase-vs-click spend pairs
    q_agg_wilcoxon_signed ranks — the parametric member of the paired
    family (wilcoxon = robust ranks, this = mean of differences), and
    the within-subject counterpart to q_agg_welch_t exactly as wilcoxon
    is to mann_whitney.  Zero diffs KEEP their pairs here (they carry
    information about the mean, unlike in the signed-rank convention —
    the deliberate semantic difference between the two ops).

    Cross-engine exactness: diffs land on the cent grid as BIGINTs; n,
    Σd (BIGINT) and Σd² (DECIMAL(38,0) ≡ HUGEINT, the q_agg_cohens_d
    discipline) are exact; mean, sd = √((nΣd²−(Σd)²)/(n(n−1))) and t =
    mean/(sd/√n) are ONE fixed-order double expression, rounded 6; the
    95% decision compares the rounded |t| against the z literal
    {TT_Z95} shared textually (df ≈ thousands — the normal
    approximation is exact to 3 dp there, documented).

    100 TB posture: ONE partial-agg shuffle onto user_id (four integer
    accumulators — identical shape to wilcoxon's first stage), then a
    single-row moment rollup.  No histogram, no window: the paired t
    needs only three moments, which is WHY it is the cheap first look
    before the rank test runs."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    e = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", cents)
        ).alias("sp"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("np"),
        F.sum(F.when(F.col("event_type") == "click", cents)).alias("sc"),
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("nc"),
    )
    d = e.filter((F.col("np") > 0) & (F.col("nc") > 0)).select(
        (F.col("sp") - F.col("sc")).cast("long").alias("diff")
    )
    m = d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("diff").cast("long").alias("s1"),
        F.sum(
            F.col("diff").cast("decimal(38,0)")
            * F.col("diff").cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    n = F.col("n")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    sd_cents = F.sqrt(
        (n * s2 - s1 * s1) / (n.cast("double") * (n - 1))
    )
    t = (s1 / n) / (sd_cents / F.sqrt(n))
    return m.select(
        n.alias("n_pairs"),
        F.round(s1 / n / 100.0, 6).alias("mean_diff"),
        F.round(sd_cents / 100.0, 6).alias("sd_diff"),
        F.round(t, 6).alias("t_stat"),
        (n - 1).cast("long").alias("df"),
        (F.abs(F.round(t, 6)) > TT_Z95).alias("reject_95"),
    )


EULER_GAMMA = "0.5772156649015329"  # textual literal, both engines
SQRT6_OVER_PI = "0.7796968012336793"  # sqrt(6)/pi, textual literal
GUMBEL_RET_T = 30  # return period (blocks) for the reported level


@register(
    "q_agg_gumbel_fit",
    oracle=f"""
    WITH mx AS (
      SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             CAST(MAX(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS mv
      FROM events GROUP BY 1, 2),
    m AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(mv) AS BIGINT) AS s1,
             CAST(SUM(CAST(mv AS DECIMAL(38,0))
                      * CAST(mv AS DECIMAL(38,0))) AS DECIMAL(38,0))
               AS s2
      FROM mx GROUP BY event_type)
    SELECT event_type, n AS n_blocks,
           ROUND(CAST(s1 AS DOUBLE) / n / 100.0, 6) AS mean_max,
           ROUND({SQRT6_OVER_PI}
                 * sqrt((n * CAST(s2 AS DOUBLE)
                         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                        / (CAST(n AS DOUBLE) * (n - 1))) / 100.0, 6)
             AS beta_hat,
           ROUND((CAST(s1 AS DOUBLE) / n
                  - {EULER_GAMMA} * {SQRT6_OVER_PI}
                    * sqrt((n * CAST(s2 AS DOUBLE)
                            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                           / (CAST(n AS DOUBLE) * (n - 1)))) / 100.0, 6)
             AS mu_hat,
           ROUND(((CAST(s1 AS DOUBLE) / n
                   - {EULER_GAMMA} * {SQRT6_OVER_PI}
                     * sqrt((n * CAST(s2 AS DOUBLE)
                             - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                            / (CAST(n AS DOUBLE) * (n - 1))))
                  - {SQRT6_OVER_PI}
                    * sqrt((n * CAST(s2 AS DOUBLE)
                            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                           / (CAST(n AS DOUBLE) * (n - 1)))
                    * LN(-LN(1.0 - 1.0 / {GUMBEL_RET_T}))) / 100.0, 6)
             AS return_level_{GUMBEL_RET_T}
    FROM m
    """,
)
def q_agg_gumbel_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel extreme-value fit per event type by the method of moments
    over DAILY BLOCK MAXIMA of the event value (classic EVT block-maxima
    design): β̂ = s·√6/π, μ̂ = x̄ − γ·β̂, plus the {GUMBEL_RET_T}-block
    return level μ̂ − β̂·ln(−ln(1−1/T)) — the "how big is the biggest
    value we should expect this month" statistic that tail-blind
    moments (q_agg_stats) and even quantiles (q_agg_percentile) cannot
    answer, because it EXTRAPOLATES the max distribution.  Method of
    moments rather than MLE deliberately: closed form, no iteration,
    exact-moment discipline applies (the document notes the small-block
    caveat — 30 daily blocks at sf0.01 — as inherent to block-maxima
    EVT, not to the engine).

    Cross-engine exactness: block maxima land on the cent grid as
    BIGINTs; n, Σmax, Σmax² are exact (HUGEINT second moment, the
    q_agg_ttest_paired discipline); β̂/μ̂/return level are ONE
    fixed-order double expression with γ, √6/π and the return period as
    shared textual literals; sqrt/ln correctly rounded on both engines.

    100 TB posture: one (type, day) partial-agg MAX — mergeable state,
    map-side combine absorbs the row volume; the moment rollup rides
    the |types|×|days| relation.  Nothing after the scan scales with
    the corpus."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.groupBy(
        "event_type", F.to_date("ts").cast("string").alias("day")
    ).agg(
        F.max(F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("mv")
    )
    m = mx.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("mv").cast("long").alias("s1"),
        F.sum(
            F.col("mv").cast("decimal(38,0)")
            * F.col("mv").cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    n = F.col("n")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    sd = F.sqrt((n * s2 - s1 * s1) / (n.cast("double") * (n - 1)))
    beta = F.lit(float(SQRT6_OVER_PI)) * sd
    mu = s1 / n - F.lit(float(EULER_GAMMA)) * beta
    ret = mu - beta * F.log(
        -F.log(F.lit(1.0) - F.lit(1.0) / GUMBEL_RET_T)
    )
    return m.select(
        "event_type",
        n.alias("n_blocks"),
        F.round(s1 / n / 100.0, 6).alias("mean_max"),
        F.round(beta / 100.0, 6).alias("beta_hat"),
        F.round(mu / 100.0, 6).alias("mu_hat"),
        F.round(ret / 100.0, 6).alias(f"return_level_{GUMBEL_RET_T}"),
    )


@register(
    "q_agg_poisson_rate_test",
    oracle=f"""
    WITH p AS (
      SELECT CAST(ts AS DATE) AS day,
             CASE WHEN dayofweek(ts) IN (0, 6) THEN 'weekend'
                  ELSE 'weekday' END AS cohort
      FROM events WHERE event_type = 'purchase'),
    days AS (
      SELECT CASE WHEN dayofweek(day) IN (0, 6) THEN 'weekend'
                  ELSE 'weekday' END AS cohort,
             CAST(COUNT(*) AS BIGINT) AS t
      FROM (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
      GROUP BY 1),
    k AS (
      SELECT cohort, CAST(COUNT(*) AS BIGINT) AS k
      FROM p GROUP BY cohort),
    m AS (
      SELECT
        (SELECT k FROM k WHERE cohort = 'weekend') AS k1,
        (SELECT t FROM days WHERE cohort = 'weekend') AS t1,
        (SELECT k FROM k WHERE cohort = 'weekday') AS k2,
        (SELECT t FROM days WHERE cohort = 'weekday') AS t2)
    SELECT k1 AS k_weekend, t1 AS days_weekend,
           k2 AS k_weekday, t2 AS days_weekday,
           ROUND(CAST(k1 AS DOUBLE) / t1, 6) AS rate_weekend,
           ROUND(CAST(k2 AS DOUBLE) / t2, 6) AS rate_weekday,
           ROUND((CAST(k1 AS DOUBLE) / t1 - CAST(k2 AS DOUBLE) / t2)
                 / sqrt(CAST(k1 AS DOUBLE) / (CAST(t1 AS DOUBLE) * t1)
                        + CAST(k2 AS DOUBLE)
                          / (CAST(t2 AS DOUBLE) * t2)), 6) AS z,
           ABS(ROUND((CAST(k1 AS DOUBLE) / t1 - CAST(k2 AS DOUBLE) / t2)
                 / sqrt(CAST(k1 AS DOUBLE) / (CAST(t1 AS DOUBLE) * t1)
                        + CAST(k2 AS DOUBLE)
                          / (CAST(t2 AS DOUBLE) * t2)), 6))
             > {TT_Z95} AS reject_95
    FROM m
    """,
)
def q_agg_poisson_rate_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Poisson rate comparison: does the purchase arrival
    RATE (events per exposure day) differ between weekends and
    weekdays?  Wald z on the rate difference, z = (λ̂₁−λ̂₂)/√(k₁/t₁² +
    k₂/t₂²) — the COUNT-process member of the two-sample family
    (welch_t compares means of values, mann_whitney their ranks; this
    compares arrival intensities with EXPOSURE NORMALIZATION, the
    statistic a traffic/conversion dashboard actually needs because
    weekends have fewer days in any window).

    Cross-engine exactness: event counts and exposure-day counts are
    exact BIGINTs (dayofweek pinned UTC on both engines per FIXTURES.md
    §6); rates and z are ONE fixed-order double expression, rounded 6;
    the decision compares the rounded |z| to the shared {TT_Z95}
    literal.

    100 TB posture: ONE corpus scan — the per-day purchase counts
    (|days| groups, map-side combine) carry both the event counts and
    the exposure days, so the weekend/weekday rollup never rescans the
    corpus (round-13 restructure: the first cut read events twice —
    once for counts, once for distinct days — and tripped the
    plan-audit rescan gate)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("long")
        .alias("kp")
    )
    dw = F.dayofweek(F.col("day")).isin(1, 7)  # Spark: Sun=1, Sat=7
    m = daily.agg(
        F.sum(F.when(dw, F.col("kp")).otherwise(0))
        .cast("long")
        .alias("k1"),
        F.sum(F.when(~dw, F.col("kp")).otherwise(0))
        .cast("long")
        .alias("k2"),
        F.sum(F.when(dw, 1).otherwise(0)).cast("long").alias("t1"),
        F.sum(F.when(~dw, 1).otherwise(0)).cast("long").alias("t2"),
    )
    r1 = F.col("k1").cast("double") / F.col("t1")
    r2 = F.col("k2").cast("double") / F.col("t2")
    z = (r1 - r2) / F.sqrt(
        F.col("k1").cast("double")
        / (F.col("t1").cast("double") * F.col("t1"))
        + F.col("k2").cast("double")
        / (F.col("t2").cast("double") * F.col("t2"))
    )
    return m.select(
        F.col("k1").alias("k_weekend"),
        F.col("t1").alias("days_weekend"),
        F.col("k2").alias("k_weekday"),
        F.col("t2").alias("days_weekday"),
        F.round(r1, 6).alias("rate_weekend"),
        F.round(r2, 6).alias("rate_weekday"),
        F.round(z, 6).alias("z"),
        (F.abs(F.round(z, 6)) > TT_Z95).alias("reject_95"),
    )


@register(
    "q_agg_theil_index",
    oracle="""
    WITH x AS (
      SELECT o_orderpriority AS priority,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS v
      FROM orders),
    g AS (
      SELECT priority,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS BIGINT) AS s,
             SUM(CAST(ROUND(v * LN(v), 4) AS DECIMAL(38,4))) AS svlnv
      FROM x GROUP BY priority)
    SELECT priority, n,
           ROUND(CAST(s AS DOUBLE) / n / 100.0, 6) AS mean_price,
           ROUND(CAST(svlnv AS DOUBLE) / s
                 - LN(CAST(s AS DOUBLE) / n), 6) AS theil_t
    FROM g
    """,
)
def q_agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of order value per priority class —
    the DECOMPOSABLE inequality measure next to q_agg_gini (rank-based)
    and q_agg_hhi (concentration): T = Σ(x/S)·ln(x/μ), zero at perfect
    equality, ln(n) at total concentration, and (unlike Gini) exactly
    additive across subgroups, which is why mixture/allocation audits
    (the x_unimax_mixture world) prefer it.

    Mechanics: the identity T = (Σ x·ln x)/S − ln(S/n) needs only ONE
    data-dependent sum — each x·ln(x) term on the cent grid is rounded
    to 4 and CARRIED AS DECIMAL(38,4) (the q_agg_entropy discipline:
    order-free association), n and S are exact BIGINTs, and the close
    is one fixed-order double expression rounded 6.  Scale-invariance
    makes the cent grid harmless: the grid factor cancels between the
    two logarithms.

    100 TB posture: one corpus-sized partial agg onto |priorities|
    groups — map-side combine does almost all the work; nothing after
    the shuffle exceeds group cardinality."""
    o = load_table(spark, sf_dir, "orders")
    x = o.select(
        F.col("o_orderpriority").alias("priority"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("v"),
    )
    g = x.groupBy("priority").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum(
            F.round(F.col("v") * F.log(F.col("v")), 4).cast(
                "decimal(38,4)"
            )
        ).alias("svlnv"),
    )
    return g.select(
        "priority",
        "n",
        F.round(F.col("s").cast("double") / F.col("n") / 100.0, 6).alias(
            "mean_price"
        ),
        F.round(
            F.col("svlnv").cast("double") / F.col("s")
            - F.log(F.col("s").cast("double") / F.col("n")),
            6,
        ).alias("theil_t"),
    )


# winsorized mean: DISCRETE (inverse-CDF) decile bounds so every clamp
# bound is an exact grid integer on both engines — no interpolation
# parity surface (the q_agg_mad histogram discipline)
WINSOR_LO_PCT = 10
WINSOR_HI_PCT = 90


@register(
    "q_agg_winsorized_mean",
    oracle=f"""
    WITH x AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      FROM events),
    h AS (SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS c
          FROM x GROUP BY event_type, v),
    cum AS (
      SELECT event_type, v, c,
             CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cc
      FROM h),
    nn AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n,
                  CAST(SUM(v * c) AS BIGINT) AS s
           FROM h GROUP BY event_type),
    bounds AS (
      SELECT c.event_type,
             MIN(CASE WHEN c.cc >= ({WINSOR_LO_PCT} * nn.n + 99) // 100
                      THEN c.v END) AS lo,
             MIN(CASE WHEN c.cc >= ({WINSOR_HI_PCT} * nn.n + 99) // 100
                      THEN c.v END) AS hi
      FROM cum c JOIN nn ON nn.event_type = c.event_type
      GROUP BY c.event_type),
    parts AS (
      SELECT h.event_type,
             CAST(SUM(CASE WHEN h.v < b.lo THEN h.c ELSE 0 END)
                  AS BIGINT) AS n_below,
             CAST(SUM(CASE WHEN h.v > b.hi THEN h.c ELSE 0 END)
                  AS BIGINT) AS n_above,
             CAST(SUM(CASE WHEN h.v BETWEEN b.lo AND b.hi
                           THEN h.v * h.c ELSE 0 END) AS BIGINT)
               AS s_mid
      FROM h JOIN bounds b ON b.event_type = h.event_type
      GROUP BY h.event_type)
    SELECT p.event_type, nn.n,
           ROUND(CAST(nn.s AS DOUBLE) / nn.n / 100.0, 6) AS raw_mean,
           ROUND(CAST(b.lo AS DOUBLE) / 100.0, 6) AS lo_bound,
           ROUND(CAST(b.hi AS DOUBLE) / 100.0, 6) AS hi_bound,
           p.n_below, p.n_above,
           ROUND((p.n_below * CAST(b.lo AS DOUBLE)
                  + CAST(p.s_mid AS DOUBLE)
                  + p.n_above * CAST(b.hi AS DOUBLE))
                 / nn.n / 100.0, 6) AS winsorized_mean
    FROM parts p
    JOIN bounds b ON b.event_type = p.event_type
    JOIN nn ON nn.event_type = p.event_type
    """,
)
def q_agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean of event value per type — the robust-location
    estimator that KEEPS sample size (clamp the tails to the decile
    bounds) where q_agg_trimmed_mean drops it: the standard spend/KPI
    mean when a few whale rows would otherwise own the average.

    Mechanics: decile bounds are DISCRETE inverse-CDF quantiles off the
    per-(type, value) histogram cumulative — smallest grid value whose
    cumulative count reaches ⌈p·n⌉ — so lo/hi are exact cent-grid
    integers on both engines (no interpolation-parity surface), and the
    winsorized sum decomposes exactly: n_below·lo + Σ_mid v·c +
    n_above·hi, all BIGINT; ONE double division at the close, rounded
    6.

    100 TB posture: the only corpus-sized stage is the (type, value)
    histogram partial agg (the q_agg_mad discipline); cumulative
    windows, bounds and the clamped rollup all ride the |types|×|values|
    bounded relation."""
    e = load_table(spark, sf_dir, "events")
    x = e.select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("v"),
    )
    h = x.groupBy("event_type", "v").agg(
        F.count("*").cast("long").alias("c")
    ).localCheckpoint(eager=True)
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = h.select(
        "event_type", "v", "c", F.sum("c").over(wcum).cast("long").alias("cc")
    )
    nn = h.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("v") * F.col("c")).cast("long").alias("s"),
    )
    j = cum.join(nn, "event_type")
    bounds = j.groupBy("event_type").agg(
        F.min(
            F.when(
                F.col("cc")
                >= F.expr(f"({WINSOR_LO_PCT} * n + 99) div 100"),
                F.col("v"),
            )
        ).alias("lo"),
        F.min(
            F.when(
                F.col("cc")
                >= F.expr(f"({WINSOR_HI_PCT} * n + 99) div 100"),
                F.col("v"),
            )
        ).alias("hi"),
    )
    parts = (
        h.join(bounds, "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("v") < F.col("lo"), F.col("c")).otherwise(0))
            .cast("long")
            .alias("n_below"),
            F.sum(F.when(F.col("v") > F.col("hi"), F.col("c")).otherwise(0))
            .cast("long")
            .alias("n_above"),
            F.sum(
                F.when(
                    F.col("v").between(F.col("lo"), F.col("hi")),
                    F.col("v") * F.col("c"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("s_mid"),
        )
    )
    return (
        parts.join(bounds, "event_type")
        .join(nn, "event_type")
        .select(
            "event_type",
            "n",
            F.round(F.col("s").cast("double") / F.col("n") / 100.0, 6).alias(
                "raw_mean"
            ),
            F.round(F.col("lo").cast("double") / 100.0, 6).alias("lo_bound"),
            F.round(F.col("hi").cast("double") / 100.0, 6).alias("hi_bound"),
            "n_below",
            "n_above",
            F.round(
                (
                    F.col("n_below") * F.col("lo").cast("double")
                    + F.col("s_mid").cast("double")
                    + F.col("n_above") * F.col("hi").cast("double")
                )
                / F.col("n")
                / 100.0,
                6,
            ).alias("winsorized_mean"),
        )
    )


RUNS_Z95 = 1.96  # two-sided 5% normal critical value (runs test)


@register(
    "q_agg_runs_test",
    oracle=f"""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS v
      FROM events GROUP BY 1),
    df AS (
      SELECT day, v - LAG(v) OVER (ORDER BY day) AS diff FROM d),
    sgn AS (
      SELECT day, CASE WHEN diff > 0 THEN 1 ELSE -1 END AS s
      FROM df WHERE diff IS NOT NULL AND diff <> 0),
    chg AS (
      SELECT s, CASE WHEN s <> LAG(s) OVER (ORDER BY day)
                     THEN 1 ELSE 0 END AS brk
      FROM sgn),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nn,
             CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
             CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n2,
             CAST(1 + SUM(brk) AS BIGINT) AS runs
      FROM chg)
    SELECT nn AS n_signs, n1 AS n_up, n2 AS n_down, runs AS n_runs,
           CASE WHEN n1 = 0 OR n2 = 0 OR nn < 2 THEN NULL
                ELSE ROUND((runs - (1.0 + 2.0 * n1 * n2 / nn))
                     / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - nn)
                            / (CAST(nn AS DOUBLE) * nn * (nn - 1))), 6)
           END AS z,
           CASE WHEN n1 = 0 OR n2 = 0 OR nn < 2 THEN NULL
                ELSE ABS(ROUND((runs - (1.0 + 2.0 * n1 * n2 / nn))
                     / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - nn)
                            / (CAST(nn AS DOUBLE) * nn * (nn - 1))), 6))
                     > {RUNS_Z95}
           END AS reject_randomness
    FROM m
    """,
)
def q_agg_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on the daily-revenue direction sequence
    — is the up/down pattern of day-over-day changes random, or does it
    trend (too few runs) / oscillate (too many)?  The
    distribution-free randomness screen that complements
    q_ts_mann_kendall (monotone trend) and q_ts_autocorr (linear
    memory): it sees ONLY signs, so one whale day can't drag it.

    Mechanics: daily totals on the cent grid (exact BIGINT); zero
    diffs are DROPPED (the classical treatment, documented); R = 1 +
    #sign-changes, n1/n2 sign counts — all exact integers off two lag
    windows over the |days| relation; z = (R − μ)/σ with μ = 1 +
    2n1n2/N and σ² = 2n1n2(2n1n2−N)/(N²(N−1)) is ONE fixed-order
    double expression rounded 6; degenerate sequences (one sign
    absent) emit NULL z rather than ±inf.  Literal 1.96 decision
    shared textually.

    100 TB posture: one corpus-sized (day) partial agg; both lag
    windows and the single-row rollup ride |days| rows — the
    documented global-window exception on a bounded relation."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("v")
    )
    wday = Window.orderBy("day")
    df_ = d.select(
        "day", (F.col("v") - F.lag("v").over(wday)).alias("diff")
    )
    sgn = df_.filter(
        F.col("diff").isNotNull() & (F.col("diff") != 0)
    ).select(
        "day", F.when(F.col("diff") > 0, 1).otherwise(-1).alias("s")
    )
    chg = sgn.select(
        "s",
        F.when(F.col("s") != F.lag("s").over(wday), 1)
        .otherwise(0)
        .alias("brk"),
    )
    m = chg.agg(
        F.count("*").cast("long").alias("nn"),
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0))
        .cast("long")
        .alias("n2"),
        (F.lit(1) + F.sum("brk")).cast("long").alias("runs"),
    )
    nn = F.col("nn").cast("double")
    mu = F.lit(1.0) + 2.0 * F.col("n1") * F.col("n2") / F.col("nn")
    sd = F.sqrt(
        2.0
        * F.col("n1")
        * F.col("n2")
        * (2.0 * F.col("n1") * F.col("n2") - F.col("nn"))
        / (nn * F.col("nn") * (F.col("nn") - 1))
    )
    degenerate = (
        (F.col("n1") == 0) | (F.col("n2") == 0) | (F.col("nn") < 2)
    )
    z6 = F.round((F.col("runs") - mu) / sd, 6)
    return m.select(
        F.col("nn").alias("n_signs"),
        F.col("n1").alias("n_up"),
        F.col("n2").alias("n_down"),
        F.col("runs").alias("n_runs"),
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(z6)
        .alias("z"),
        F.when(degenerate, F.lit(None).cast("boolean"))
        .otherwise(F.abs(z6) > RUNS_Z95)
        .alias("reject_randomness"),
    )


SRM_CHI2_CRIT_95 = 3.841  # chi-squared(1) 95% critical value


@register(
    "q_agg_srm_check",
    oracle=f"""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    arms AS (
      SELECT CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n1,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM u)
    SELECT n AS n_users, n0 AS n_arm0, n1 AS n_arm1,
           ROUND(CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / n, 6) AS chi2,
           ROUND(CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / n, 6)
             > {SRM_CHI2_CRIT_95} AS srm_detected
    FROM arms
    """,
)
def q_agg_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check — the A/B-test GATE that runs before
    q_agg_welch_t / q_agg_mann_whitney ever should: with a 50/50
    assignment (user parity, the repo's standing arm convention), a
    chi-squared(1) test on the arm counts detects broken randomization
    (bot filtering, logging loss, redirect bias).  An experiment that
    fails SRM is invalid no matter what its effect size says.

    Mechanics: for equal expected splits the 1-df statistic collapses
    to (n0 − n1)²/N — exact BIGINTs into ONE double division rounded
    6; the 3.841 critical value is a shared literal (the q_agg_friedman
    convention).

    100 TB posture: one distinct-users shuffle (partial distinct
    map-side), then a single-row rollup — nothing after the distinct
    exceeds one row."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.select("user_id").distinct()
    arms = u.agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n0"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.count("*").cast("long").alias("n"),
    )
    chi2 = F.round(
        ((F.col("n0") - F.col("n1")) * (F.col("n0") - F.col("n1")))
        .cast("double")
        / F.col("n"),
        6,
    )
    return arms.select(
        F.col("n").alias("n_users"),
        F.col("n0").alias("n_arm0"),
        F.col("n1").alias("n_arm1"),
        chi2.alias("chi2"),
        (chi2 > SRM_CHI2_CRIT_95).alias("srm_detected"),
    )


RSI_W = 14  # lookback in trading days (Cutler's SMA form)


@register(
    "q_ts_rsi",
    oracle=f"""
    WITH d AS (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS v
      FROM events GROUP BY 1),
    df AS (
      SELECT day, v, v - LAG(v) OVER (ORDER BY day) AS diff FROM d),
    gl AS (
      SELECT day, v, diff,
             CASE WHEN diff > 0 THEN diff ELSE 0 END AS gain,
             CASE WHEN diff < 0 THEN -diff ELSE 0 END AS loss
      FROM df),
    w AS (
      SELECT day, v,
             CAST(COUNT(diff) OVER win AS BIGINT) AS n_diffs,
             CAST(SUM(gain) OVER win AS BIGINT) AS sg,
             CAST(SUM(loss) OVER win AS BIGINT) AS sl
      FROM gl
      WINDOW win AS (ORDER BY day ROWS {RSI_W - 1} PRECEDING))
    SELECT day,
           ROUND(CAST(v AS DOUBLE) / 100.0, 6) AS total,
           n_diffs, sg AS gain_cents, sl AS loss_cents,
           CASE WHEN n_diffs < {RSI_W} OR sg + sl = 0 THEN NULL
                ELSE ROUND(100.0 * sg / (sg + sl), 6) END AS rsi
    FROM w
    """,
)
def q_ts_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative Strength Index (Cutler's SMA form) of the daily revenue
    series: RSI = 100·Σgain/(Σgain+Σloss) over the last {RSI_W}
    day-over-day changes — the bounded [0,100] momentum oscillator
    that completes the technical tier next to q_ts_bollinger
    (volatility envelope), q_ts_sma_crossover (trend) and q_ts_ewma
    (level).  Cutler's simple-average form is used DELIBERATELY:
    Wilder's recursive smoothing has an infinite memory that a
    bounded window can't replay exactly; Cutler's is windowed and
    therefore exactly distributable (and the form most chartists
    actually compute).

    Cross-engine exactness: gains/losses are exact cent-grid BIGINTs
    off one lag; window sums stay integer; RSI is ONE double division
    rounded 6.  Warm-up rows (< {RSI_W} diffs) and flat windows
    (Σgain+Σloss = 0) emit NULL rather than a fake 50.

    100 TB posture: one corpus-sized (day) partial agg; the lag and
    the rolling window ride the |days| relation — the documented
    global-window exception (partition by series id when there are
    many series)."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").cast("string").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("v")
    )
    wday = Window.orderBy("day")
    gl = d.select(
        "day",
        "v",
        (F.col("v") - F.lag("v").over(wday)).alias("diff"),
    ).select(
        "day",
        "v",
        "diff",
        F.when(F.col("diff") > 0, F.col("diff")).otherwise(0).alias("gain"),
        F.when(F.col("diff") < 0, -F.col("diff")).otherwise(0).alias("loss"),
    )
    win = Window.orderBy("day").rowsBetween(-(RSI_W - 1), 0)
    w = gl.select(
        "day",
        "v",
        F.count("diff").over(win).cast("long").alias("n_diffs"),
        F.sum("gain").over(win).cast("long").alias("sg"),
        F.sum("loss").over(win).cast("long").alias("sl"),
    )
    return w.select(
        "day",
        F.round(F.col("v").cast("double") / 100.0, 6).alias("total"),
        "n_diffs",
        F.col("sg").alias("gain_cents"),
        F.col("sl").alias("loss_cents"),
        F.when(
            (F.col("n_diffs") < RSI_W) | (F.col("sg") + F.col("sl") == 0),
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.round(
                F.lit(100.0) * F.col("sg") / (F.col("sg") + F.col("sl")), 6
            )
        )
        .alias("rsi"),
    )


@register(
    "q_ts_drawdown",
    oracle="""
    WITH d AS (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS v
      FROM events GROUP BY 1),
    c AS (
      SELECT day, v,
             CAST(SUM(v) OVER (ORDER BY day
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum
      FROM d),
    p AS (
      SELECT day, v, cum,
             CAST(MAX(cum) OVER (ORDER BY day
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS peak
      FROM c)
    SELECT day,
           ROUND(CAST(cum AS DOUBLE) / 100.0, 6) AS cum_total,
           ROUND(CAST(peak AS DOUBLE) / 100.0, 6) AS peak_total,
           CASE WHEN peak > 0
                THEN ROUND(CAST(peak - cum AS DOUBLE) / peak, 6)
                ELSE NULL END AS drawdown,
           peak - cum = CAST(MAX(peak - cum) OVER () AS BIGINT)
             AS is_max_drawdown
    FROM p
    """,
)
def q_ts_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drawdown trajectory of cumulative daily revenue: running peak,
    per-day drawdown (peak − cum)/peak, and a flag on the
    maximum-drawdown day — the path-dependent risk statistic that no
    distributional summary (q_agg_stats) sees: two series with equal
    variance can have wildly different worst peak-to-trough runs.
    Completes the technical tier's risk corner next to q_ts_bollinger
    (local volatility) and q_ts_cusum (drift detection).

    Cross-engine exactness: cumulative sums and running peaks are exact
    cent-grid BIGINTs off ordered windows (day strings pin the order);
    drawdown is ONE double division rounded 6; the max-drawdown flag
    compares exact integers (peak − cum), never the rounded ratio — an
    ulp can't move the argmax.

    100 TB posture: one corpus-sized (day) partial agg; three windows
    ride the |days| relation (the documented global-window exception —
    partition by series when there are many)."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").cast("string").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("v")
    )
    wrun = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = d.select(
        "day", "v", F.sum("v").over(wrun).cast("long").alias("cum")
    )
    p = c.select(
        "day",
        "v",
        "cum",
        F.max("cum").over(wrun).cast("long").alias("peak"),
    )
    wall = Window.partitionBy()
    gap = F.col("peak") - F.col("cum")
    return p.select(
        "day",
        F.round(F.col("cum").cast("double") / 100.0, 6).alias("cum_total"),
        F.round(F.col("peak").cast("double") / 100.0, 6).alias(
            "peak_total"
        ),
        F.when(
            F.col("peak") > 0,
            F.round(gap.cast("double") / F.col("peak"), 6),
        ).alias("drawdown"),
        (gap == F.max(gap).over(wall).cast("long")).alias(
            "is_max_drawdown"
        ),
    )


@register(
    "q_agg_bowley_skew",
    oracle="""
    WITH x AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      FROM events),
    h AS (SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS c
          FROM x GROUP BY event_type, v),
    cum AS (
      SELECT event_type, v, c,
             CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cc
      FROM h),
    nn AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n
           FROM h GROUP BY event_type),
    q AS (
      SELECT c.event_type, nn.n,
             MIN(CASE WHEN c.cc >= (25 * nn.n + 99) // 100
                      THEN c.v END) AS q1,
             MIN(CASE WHEN c.cc >= (50 * nn.n + 99) // 100
                      THEN c.v END) AS q2,
             MIN(CASE WHEN c.cc >= (75 * nn.n + 99) // 100
                      THEN c.v END) AS q3
      FROM cum c JOIN nn ON nn.event_type = c.event_type
      GROUP BY c.event_type, nn.n)
    SELECT event_type, n,
           ROUND(CAST(q1 AS DOUBLE) / 100.0, 6) AS q1_val,
           ROUND(CAST(q2 AS DOUBLE) / 100.0, 6) AS median_val,
           ROUND(CAST(q3 AS DOUBLE) / 100.0, 6) AS q3_val,
           CASE WHEN q3 > q1
                THEN ROUND(CAST(q3 + q1 - 2 * q2 AS DOUBLE)
                           / (q3 - q1), 6)
                ELSE NULL END AS bowley_skew
    FROM q
    """,
)
def q_agg_bowley_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowley (quartile) skewness per event type — the ROBUST asymmetry
    measure next to q_agg_skew_kurt's moment skewness: B = (Q3 + Q1 −
    2·median)/(Q3 − Q1) ∈ [−1, 1] sees only quartiles, so the whale
    rows that own the third moment can't touch it; disagreement between
    B and the moment skew is itself the heavy-tail diagnostic.

    Mechanics: quartiles are DISCRETE inverse-CDF quantiles off the
    (type, value) histogram cumulative (the q_agg_winsorized_mean
    discipline) — exact cent-grid integers on both engines — and B is
    ONE double division of exact integers rounded 6; a degenerate IQR
    (Q3 = Q1) emits NULL rather than dividing by zero.

    100 TB posture: the only corpus-sized stage is the (type, value)
    histogram partial agg; cumulative windows and the quartile rollup
    ride the |types|×|values| bounded relation."""
    e = load_table(spark, sf_dir, "events")
    x = e.select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("v"),
    )
    h = x.groupBy("event_type", "v").agg(
        F.count("*").cast("long").alias("c")
    ).localCheckpoint(eager=True)  # feeds cum + nn: one corpus scan
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = h.select(
        "event_type",
        "v",
        F.sum("c").over(wcum).cast("long").alias("cc"),
    )
    nn = h.groupBy("event_type").agg(F.sum("c").cast("long").alias("n"))
    j = cum.join(nn, "event_type")

    def _q(pct: int):
        return F.min(
            F.when(
                F.col("cc") >= F.expr(f"({pct} * n + 99) div 100"),
                F.col("v"),
            )
        )

    q = j.groupBy("event_type", "n").agg(
        _q(25).alias("q1"), _q(50).alias("q2"), _q(75).alias("q3")
    )
    return q.select(
        "event_type",
        "n",
        F.round(F.col("q1").cast("double") / 100.0, 6).alias("q1_val"),
        F.round(F.col("q2").cast("double") / 100.0, 6).alias("median_val"),
        F.round(F.col("q3").cast("double") / 100.0, 6).alias("q3_val"),
        F.when(
            F.col("q3") > F.col("q1"),
            F.round(
                (F.col("q3") + F.col("q1") - 2 * F.col("q2")).cast(
                    "double"
                )
                / (F.col("q3") - F.col("q1")),
                6,
            ),
        ).alias("bowley_skew"),
    )


# chi-squared(6) 95% critical value (weekday-uniformity decision)
CHI2_CRIT_95_DF6 = 12.592


@register(
    "q_agg_chi2_uniform_dow",
    oracle=f"""
    WITH c AS (
      SELECT dayofweek(CAST(ts AS DATE)) AS dow,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM events GROUP BY 1),
    m AS (
      SELECT CAST(SUM(o) AS BIGINT) AS n,
             CAST(SUM(o * o) AS BIGINT) AS so2,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM c)
    SELECT n AS n_events, k AS n_weekdays,
           ROUND(CAST(7 * so2 - n * n AS DOUBLE) / n, 6) AS chi2,
           CAST(6 AS BIGINT) AS df,
           ROUND(CAST(7 * so2 - n * n AS DOUBLE) / n, 6)
             > {CHI2_CRIT_95_DF6} AS reject_uniform
    FROM m
    """,
)
def q_agg_chi2_uniform_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared goodness-of-fit of event volume against a UNIFORM
    weekday profile — the seasonality EXISTENCE test that gates the
    seasonal tier: if uniformity survives, q_ts_seasonal_dow /
    q_ts_holt_winters have nothing to model.  For equal expected cells
    the statistic collapses to Σ(O−E)²/E = (7·ΣO² − N²)/N — exact
    BIGINTs into ONE double division rounded 6 (the q_agg_srm_check
    identity, 7 cells); df = 6 with the literal 12.592 decision (the
    q_agg_friedman convention).  Weekday extraction uses dayofweek(),
    identical 1..7 numbering on both engines.

    100 TB posture: one corpus-sized partial agg onto ≤7 groups —
    map-side combine does all the work; the rollup is single-row."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy(
        F.dayofweek(F.col("ts").cast("date")).alias("dow")
    ).agg(F.count("*").cast("long").alias("o"))
    m = c.agg(
        F.sum("o").cast("long").alias("n"),
        F.sum(F.col("o") * F.col("o")).cast("long").alias("so2"),
        F.count("*").cast("long").alias("k"),
    )
    chi2 = F.round(
        (7 * F.col("so2") - F.col("n") * F.col("n")).cast("double")
        / F.col("n"),
        6,
    )
    return m.select(
        F.col("n").alias("n_events"),
        F.col("k").alias("n_weekdays"),
        chi2.alias("chi2"),
        F.lit(6).cast("long").alias("df"),
        (chi2 > CHI2_CRIT_95_DF6).alias("reject_uniform"),
    )


@register(
    "q_agg_capture_recapture",
    oracle="""
    WITH u AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS in_a,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS in_b
      FROM events
      WHERE event_type IN ('click', 'purchase')
      GROUP BY user_id),
    m AS (
      SELECT CAST(SUM(in_a) AS BIGINT) AS n1,
             CAST(SUM(in_b) AS BIGINT) AS n2,
             CAST(SUM(in_a * in_b) AS BIGINT) AS m_both,
             CAST(COUNT(*) AS BIGINT) AS n_observed
      FROM u)
    SELECT n1 AS n_capture1, n2 AS n_capture2, m_both AS n_recaptured,
           n_observed,
           ROUND(CAST((n1 + 1) * (n2 + 1) AS DOUBLE) / (m_both + 1)
                 - 1.0, 6) AS chapman_estimate,
           ROUND(CAST((n1 + 1) * (n2 + 1) AS DOUBLE) / (m_both + 1)
                 - 1.0 - n_observed, 6) AS est_unobserved
    FROM m
    """,
)
def q_agg_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture population estimate (Chapman's bias-corrected
    Lincoln-Petersen): treat clickers and purchasers as two independent
    'captures' of the same user population and estimate TOTAL population
    — including never-observed users — from the overlap: N̂ =
    (n1+1)(n2+1)/(m+1) − 1.  The ecology estimator that data work
    reuses constantly: how many duplicates does the corpus REALLY have
    when two dedup passes each catch a sample (x_dedup_* world), how
    big is the user base when every channel undercounts.

    Cross-engine exactness: membership flags collapse per user with
    MAX (one partial agg), all counts exact BIGINT, the estimator is
    ONE double expression of exact integers rounded 6.

    100 TB posture: one corpus scan with map-side per-user flag
    combine onto |users| groups, then a single-row rollup — the
    q_agg_srm_check shape with a two-flag payload."""
    ev = load_table(spark, sf_dir, "events")
    u = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("in_a"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("in_b"),
        )
    )
    m = u.agg(
        F.sum("in_a").cast("long").alias("n1"),
        F.sum("in_b").cast("long").alias("n2"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("m_both"),
        F.count("*").cast("long").alias("n_observed"),
    )
    chapman = (
        ((F.col("n1") + 1) * (F.col("n2") + 1)).cast("double")
        / (F.col("m_both") + 1)
        - 1.0
    )
    return m.select(
        F.col("n1").alias("n_capture1"),
        F.col("n2").alias("n_capture2"),
        F.col("m_both").alias("n_recaptured"),
        "n_observed",
        F.round(chapman, 6).alias("chapman_estimate"),
        F.round(chapman - F.col("n_observed"), 6).alias("est_unobserved"),
    )


@register(
    "q_agg_jackknife_var",
    oracle="""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS ni,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS si
      FROM events GROUP BY 1),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS b,
             CAST(SUM(ni) AS BIGINT) AS n,
             CAST(SUM(si) AS BIGINT) AS s
      FROM d),
    loo AS (
      SELECT d.day,
             CAST(ROUND(CAST(t.s - d.si AS DOUBLE)
                        / (t.n - d.ni), 6) AS DECIMAL(24,6)) AS th
      FROM d, t),
    js AS (
      SELECT CAST(SUM(th) AS DECIMAL(30,6)) AS sth,
             SUM(CAST(ROUND(CAST(th AS DOUBLE) * CAST(th AS DOUBLE), 9)
                      AS DECIMAL(30,9))) AS sth2
      FROM loo)
    SELECT t.b AS n_blocks, t.n AS n_events,
           ROUND(CAST(t.s AS DOUBLE) / t.n / 100.0, 6) AS mean_value,
           ROUND((CAST(t.b AS DOUBLE) - 1) / t.b
                 * (CAST(js.sth2 AS DOUBLE)
                    - CAST(js.sth AS DOUBLE) * CAST(js.sth AS DOUBLE)
                      / t.b) / 10000.0, 6) AS jackknife_var,
           ROUND(sqrt((CAST(t.b AS DOUBLE) - 1) / t.b
                 * (CAST(js.sth2 AS DOUBLE)
                    - CAST(js.sth AS DOUBLE) * CAST(js.sth AS DOUBLE)
                      / t.b)) / 100.0, 6) AS jackknife_se
    FROM t, js
    """,
)
def q_agg_jackknife_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-BLOCK jackknife variance of the mean event value (days
    as blocks) — the resampling uncertainty estimate that respects
    within-day correlation, next to q_agg_bootstrap_ci (iid resample):
    each leave-one-day-out mean θ₍ᵢ₎ = (S−sᵢ)/(n−nᵢ) comes straight
    from exact totals (no resample pass exists at all), and Var_jk =
    (B−1)/B·Σ(θ₍ᵢ₎−θ̄)².  The block structure is what makes it honest
    on event data: days are the exchangeable unit, not rows.

    Cross-engine exactness: per-day (nᵢ, sᵢ) and totals are exact
    cent-grid integers; each θ₍ᵢ₎ is rounded-6 and CARRIED AS
    DECIMAL(24,6), its square rounded-9 as DECIMAL(30,9) (the
    q_agg_entropy discipline), so both folds are order-free; the
    variance close is one fixed-order double expression (cents² →
    dollars² via /10⁴) rounded 6.

    100 TB posture: one corpus-sized (day) partial agg; the
    leave-one-out relation is |days| rows against a broadcast 1-row
    total — no second corpus pass, no resampling shuffle."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").cast("long").alias("ni"),
        F.sum(
            (F.col("value").cast("decimal(18,2)") * 100).cast("long")
        )
        .cast("long")
        .alias("si"),
    )
    t = d.agg(
        F.count("*").cast("long").alias("b"),
        F.sum("ni").cast("long").alias("n"),
        F.sum("si").cast("long").alias("s"),
    )
    loo = d.crossJoin(broadcast(t)).select(
        F.round(
            (F.col("s") - F.col("si")).cast("double")
            / (F.col("n") - F.col("ni")),
            6,
        )
        .cast("decimal(24,6)")
        .alias("th")
    )
    js = loo.agg(
        F.sum("th").cast("decimal(30,6)").alias("sth"),
        F.sum(
            F.round(
                F.col("th").cast("double") * F.col("th").cast("double"), 9
            ).cast("decimal(30,9)")
        ).alias("sth2"),
    )
    b = F.col("b").cast("double")
    core = (b - 1) / F.col("b") * (
        F.col("sth2").cast("double")
        - F.col("sth").cast("double")
        * F.col("sth").cast("double")
        / F.col("b")
    )
    return t.crossJoin(js).select(
        F.col("b").alias("n_blocks"),
        F.col("n").alias("n_events"),
        F.round(
            F.col("s").cast("double") / F.col("n") / 100.0, 6
        ).alias("mean_value"),
        F.round(core / 10000.0, 6).alias("jackknife_var"),
        F.round(F.sqrt(core) / 100.0, 6).alias("jackknife_se"),
    )


TOST_MARGIN_CENTS = 500   # +/- $5 equivalence margin on mean value
TOST_Z90 = 1.645          # one-sided 5% normal critical value


@register(
    "q_agg_tost_equivalence",
    oracle=f"""
    WITH x AS (
      SELECT user_id % 2 AS arm,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      FROM events WHERE event_type = 'purchase'),
    g AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS BIGINT) AS s,
             CAST(SUM(CAST(v AS DECIMAL(38,0))
                      * CAST(v AS DECIMAL(38,0))) AS DECIMAL(38,0))
               AS s2
      FROM x GROUP BY arm),
    m AS (
      SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n0,
             MAX(CASE WHEN arm = 0 THEN s END) AS s0,
             MAX(CASE WHEN arm = 0 THEN s2 END) AS q0,
             MAX(CASE WHEN arm = 1 THEN n END) AS n1,
             MAX(CASE WHEN arm = 1 THEN s END) AS s1,
             MAX(CASE WHEN arm = 1 THEN s2 END) AS q1
      FROM g),
    c AS (
      SELECT n0, n1,
             CAST(s0 AS DOUBLE) / n0 - CAST(s1 AS DOUBLE) / n1 AS delta,
             sqrt((n0 * CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * s0)
                  / (CAST(n0 AS DOUBLE) * n0 * (n0 - 1))
                + (n1 * CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1)
                  / (CAST(n1 AS DOUBLE) * n1 * (n1 - 1))) AS se
      FROM m)
    SELECT n0 AS n_arm0, n1 AS n_arm1,
           ROUND(delta / 100.0, 6) AS mean_diff,
           ROUND(se / 100.0, 6) AS se_diff,
           ROUND((delta + {TOST_MARGIN_CENTS}) / se, 6) AS t_lower,
           ROUND(({TOST_MARGIN_CENTS} - delta) / se, 6) AS t_upper,
           ROUND((delta + {TOST_MARGIN_CENTS}) / se, 6) > {TOST_Z90}
             AND ROUND(({TOST_MARGIN_CENTS} - delta) / se, 6)
                 > {TOST_Z90} AS equivalent
    FROM c
    """,
)
def q_agg_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (two one-sided tests, Schuirmann 1987) on
    mean purchase value between the user-parity arms: PROVE the arms
    are the same to within ±${TOST_MARGIN_CENTS // 100}, which a
    non-significant q_agg_welch_t can never do (absence of evidence ≠
    evidence of absence — the inferential gap every launch review trips
    on).  Equivalent iff BOTH one-sided statistics (Δ+m)/se and
    (m−Δ)/se clear the one-sided critical value.

    Cross-engine exactness: per-arm moments are exact (BIGINT counts
    and cent sums, DECIMAL(38,0) sums of squares — the q_agg_ttest
    discipline); Δ, the Welch se and both t's are fixed-order double
    expressions rounded 6; margin and z are shared literals; the
    decision compares the ROUNDED t's.

    100 TB posture: one corpus-sized partial agg onto 2 arm groups —
    map-side combine does everything; the close-out is single-row."""
    ev = load_table(spark, sf_dir, "events")
    x = ev.filter(F.col("event_type") == "purchase").select(
        (F.col("user_id") % 2).alias("arm"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("v"),
    )
    g = x.groupBy("arm").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum(
            F.col("v").cast("decimal(38,0)")
            * F.col("v").cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    m = g.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("s"))).alias("s0"),
        F.max(F.when(F.col("arm") == 0, F.col("s2"))).alias("q0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("s"))).alias("s1"),
        F.max(F.when(F.col("arm") == 1, F.col("s2"))).alias("q1"),
    )
    n0d = F.col("n0").cast("double")
    n1d = F.col("n1").cast("double")
    delta = (
        F.col("s0").cast("double") / F.col("n0")
        - F.col("s1").cast("double") / F.col("n1")
    )
    se = F.sqrt(
        (
            F.col("n0") * F.col("q0").cast("double")
            - F.col("s0").cast("double") * F.col("s0")
        )
        / (n0d * F.col("n0") * (F.col("n0") - 1))
        + (
            F.col("n1") * F.col("q1").cast("double")
            - F.col("s1").cast("double") * F.col("s1")
        )
        / (n1d * F.col("n1") * (F.col("n1") - 1))
    )
    tl = F.round((delta + TOST_MARGIN_CENTS) / se, 6)
    tu = F.round((TOST_MARGIN_CENTS - delta) / se, 6)
    return m.select(
        F.col("n0").alias("n_arm0"),
        F.col("n1").alias("n_arm1"),
        F.round(delta / 100.0, 6).alias("mean_diff"),
        F.round(se / 100.0, 6).alias("se_diff"),
        tl.alias("t_lower"),
        tu.alias("t_upper"),
        ((tl > TOST_Z90) & (tu > TOST_Z90)).alias("equivalent"),
    )


# shared 2x2 contingency CTE over per-USER-DAY click/purchase flags
# (the per-user grain is degenerate on this fixture — every user has
# every event type — so the paired observation is the user-day):
# a = clicked AND purchased that day, b = click-only, c = purchase-
# only, d = active that day with neither.
_FLAGS_2X2_SQL = """
    u AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS fx,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS fy
      FROM events GROUP BY user_id, CAST(ts AS DATE)),
    t AS (
      SELECT CAST(SUM(fx * fy) AS BIGINT) AS a,
             CAST(SUM(fx * (1 - fy)) AS BIGINT) AS b,
             CAST(SUM((1 - fx) * fy) AS BIGINT) AS c,
             CAST(SUM((1 - fx) * (1 - fy)) AS BIGINT) AS d
      FROM u)"""


def _flags_2x2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user-day click/purchase 2x2 table (a, b, c, d) — one
    partial agg over the corpus onto |user-days| groups, then a
    single-row rollup."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id", F.col("ts").cast("date").alias("d")).agg(
        F.max(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("fx"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("fy"),
    )
    return u.agg(
        F.sum(F.col("fx") * F.col("fy")).cast("long").alias("a"),
        F.sum(F.col("fx") * (1 - F.col("fy"))).cast("long").alias("b"),
        F.sum((1 - F.col("fx")) * F.col("fy")).cast("long").alias("c"),
        F.sum((1 - F.col("fx")) * (1 - F.col("fy")))
        .cast("long")
        .alias("d"),
    )


@register(
    "q_agg_mcnemar",
    oracle=f"""
    WITH {_FLAGS_2X2_SQL}
    SELECT a AS n_both, b AS n_click_only, c AS n_purchase_only,
           d AS n_neither,
           CASE WHEN b + c = 0 THEN NULL
                ELSE ROUND(CAST((b - c) * (b - c) AS DOUBLE) / (b + c),
                           6) END AS mcnemar_chi2,
           CASE WHEN b + c = 0 THEN NULL
                ELSE CAST(ROUND(CAST((b - c) * (b - c) AS DOUBLE)
                                / (b + c), 6)
                          > {SRM_CHI2_CRIT_95} AS INTEGER)
           END AS reject_marginal_homogeneity
    FROM t
    """,
)
def q_agg_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar test on the per-user-day click/purchase 2×2 table — are
    the daily click rate and purchase rate DIFFERENT within the same
    user-days?  Only
    the DISCORDANT cells matter (click-only b vs purchase-only c):
    χ² = (b−c)²/(b+c) ~ χ²(1) — the paired-binary counterpart of
    q_agg_ttest_paired (paired continuous) and q_agg_srm_check
    (independent binary), closing the paired corner of the categorical
    tier.

    Cross-engine exactness: flags collapse per user-day with MAX,
    cells are exact BIGINTs, the statistic is ONE double division
    rounded 6 with the shared 3.841 literal; b + c = 0 (no
    discordance) emits NULL, and the reject flag rides as a nullable
    INT so both engines canonicalize the NULL identically.

    100 TB posture: one corpus scan with map-side flag combine onto
    |user-days| groups, single-row rollup — the q_agg_srm_check
    shape."""
    t = _flags_2x2(spark, sf_dir)
    chi2 = F.round(
        ((F.col("b") - F.col("c")) * (F.col("b") - F.col("c"))).cast(
            "double"
        )
        / (F.col("b") + F.col("c")),
        6,
    )
    degenerate = (F.col("b") + F.col("c")) == 0
    return t.select(
        F.col("a").alias("n_both"),
        F.col("b").alias("n_click_only"),
        F.col("c").alias("n_purchase_only"),
        F.col("d").alias("n_neither"),
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(chi2)
        .alias("mcnemar_chi2"),
        F.when(degenerate, F.lit(None).cast("int"))
        .otherwise((chi2 > SRM_CHI2_CRIT_95).cast("int"))
        .alias("reject_marginal_homogeneity"),
    )


@register(
    "q_agg_mcc",
    oracle=f"""
    WITH {_FLAGS_2X2_SQL}
    SELECT a AS n_both, b AS n_click_only, c AS n_purchase_only,
           d AS n_neither,
           CASE WHEN (a+b) = 0 OR (c+d) = 0 OR (a+c) = 0 OR (b+d) = 0
                THEN NULL
                ELSE ROUND((CAST(a AS DOUBLE) * d
                            - CAST(b AS DOUBLE) * c)
                     / sqrt(CAST(a+b AS DOUBLE) * (c+d) * (a+c) * (b+d)),
                     6) END AS mcc
    FROM t
    """,
)
def q_agg_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation (phi coefficient) of the per-user-day
    click and purchase flags — the balanced binary-association measure the
    classifier-evaluation world standardized on (immune to the
    base-rate inflation that makes accuracy/odds look good on skewed
    flags): MCC = (ad − bc)/√((a+b)(c+d)(a+c)(b+d)) ∈ [−1, 1].
    Completes the association tier: q_agg_cramers_v (k×k nominal),
    q_agg_mutual_info (information), this (binary-binary on the
    canonical 2×2).

    Cross-engine exactness: exact cells; one fixed-order double
    expression rounded 6; any zero margin emits NULL (undefined MCC)
    rather than ±inf.

    100 TB posture: the shared _flags_2x2 single-scan shape."""
    t = _flags_2x2(spark, sf_dir)
    degenerate = (
        ((F.col("a") + F.col("b")) == 0)
        | ((F.col("c") + F.col("d")) == 0)
        | ((F.col("a") + F.col("c")) == 0)
        | ((F.col("b") + F.col("d")) == 0)
    )
    mcc = F.round(
        (
            F.col("a").cast("double") * F.col("d")
            - F.col("b").cast("double") * F.col("c")
        )
        / F.sqrt(
            (F.col("a") + F.col("b")).cast("double")
            * (F.col("c") + F.col("d"))
            * (F.col("a") + F.col("c"))
            * (F.col("b") + F.col("d"))
        ),
        6,
    )
    return t.select(
        F.col("a").alias("n_both"),
        F.col("b").alias("n_click_only"),
        F.col("c").alias("n_purchase_only"),
        F.col("d").alias("n_neither"),
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(mcc)
        .alias("mcc"),
    )


OR_Z95 = 1.96  # two-sided 95% z (Woolf interval on ln OR)


@register(
    "q_agg_odds_ratio_ci",
    oracle=f"""
    WITH {_FLAGS_2X2_SQL}
    SELECT a AS n_both, b AS n_click_only, c AS n_purchase_only,
           d AS n_neither,
           CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0 THEN NULL
                ELSE ROUND(CAST(a AS DOUBLE) * d
                           / (CAST(b AS DOUBLE) * c), 6)
           END AS odds_ratio,
           CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0 THEN NULL
                ELSE ROUND(exp(ln(CAST(a AS DOUBLE) * d
                                  / (CAST(b AS DOUBLE) * c))
                               - {OR_Z95} * sqrt(1.0/a + 1.0/b
                                                 + 1.0/c + 1.0/d)), 6)
           END AS ci_lo,
           CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0 THEN NULL
                ELSE ROUND(exp(ln(CAST(a AS DOUBLE) * d
                                  / (CAST(b AS DOUBLE) * c))
                               + {OR_Z95} * sqrt(1.0/a + 1.0/b
                                                 + 1.0/c + 1.0/d)), 6)
           END AS ci_hi
    FROM t
    """,
)
def q_agg_odds_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odds ratio of purchasing given clicking on the same user-day,
    with the Woolf 95%
    interval on the log scale: OR = ad/bc, CI = exp(ln OR ± z·√(1/a +
    1/b + 1/c + 1/d)) — THE effect-size currency of epidemiology and
    conversion analysis (an interval excluding 1 is the decision), the
    magnitude companion to q_agg_mcnemar's yes/no.

    Cross-engine exactness: exact cells into fixed-order double
    expressions rounded 6; ln/exp evaluate on the identical doubles in
    both engines (same IEEE input, libm-class functions; the rounded-6
    emission absorbs the ulp class, the q_agg_entropy precedent).  Any
    zero cell emits NULL (the classic undefined case; production adds
    the Haldane 0.5 correction — documented, not silently applied).

    100 TB posture: the shared _flags_2x2 single-scan shape."""
    t = _flags_2x2(spark, sf_dir)
    degenerate = (
        (F.col("a") == 0)
        | (F.col("b") == 0)
        | (F.col("c") == 0)
        | (F.col("d") == 0)
    )
    orr = (
        F.col("a").cast("double")
        * F.col("d")
        / (F.col("b").cast("double") * F.col("c"))
    )
    half = OR_Z95 * F.sqrt(
        1.0 / F.col("a")
        + 1.0 / F.col("b")
        + 1.0 / F.col("c")
        + 1.0 / F.col("d")
    )
    return t.select(
        F.col("a").alias("n_both"),
        F.col("b").alias("n_click_only"),
        F.col("c").alias("n_purchase_only"),
        F.col("d").alias("n_neither"),
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(F.round(orr, 6))
        .alias("odds_ratio"),
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(F.round(F.exp(F.log(orr) - half), 6))
        .alias("ci_lo"),
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(F.round(F.exp(F.log(orr) + half), 6))
        .alias("ci_hi"),
    )


# two-level prefix-sum bucket width (micro-unit price grid): bounds
# every within-bucket cumsum partition to ≤ WM_BUCKET distinct prices
WM_BUCKET = 4096


def percentile_cont_by_hist(
    hist: DataFrame,
    gcol: str,
    vcol: str,
    wcol: str,
    ps: list[float],
    out_cols: list[str],
) -> DataFrame:
    """Exact PERCENTILE_CONT per group over a (group, value, weight)
    histogram — the scale path for exact percentiles on near-unique
    measures (round 13).

    Spark's exact `percentile` is a TypedImperativeAggregate: every
    partial task builds a value→count OpenHashMap that is serialized,
    merged, then sorted INSIDE one final aggregation buffer per group —
    single-threaded over |distinct values| per group, with the whole
    map riding the shuffle (measured 16-24 s on 5.5M distinct prices /
    3 groups at sf1).  This helper computes the identical order
    statistics with ordinary codegen'd relational algebra, SELECTION-
    style: (1) per-(group, unit bucket) weight sums — one map-side-
    reduced corpus pass; (2) bucket offsets by prefix sum over the
    |buckets|-row relation (the q_agg_weighted_median two-level idea);
    (3) locate the 1-2 buckets covering each percentile's bracketing
    order-statistic indices on that tiny relation; (4) one map-side
    broadcast-join filter pass re-reads ONLY those buckets and resolves
    the exact values with a grid-bounded within-bucket cumsum.  No
    stage ever sorts or buffers more than one bucket's values.

    Cross-engine exactness: the interpolation REPLICATES Spark's
    Percentile.getPercentile arithmetic operation-for-operation —
    position = p·(n−1) in double, lower/higher = floor/ceil, result =
    (higher−position)·v_lo + (position−lower)·v_hi — on the same exact
    inputs (order statistics are exact data values, weights exact
    longs), so every emitted double is BIT-IDENTICAL to what the
    imperative aggregate produced; callers' oracles are untouched.

    The input needs NO pre-deduplication: duplicate (group, value)
    rows are a weighted multiset, and every step below is
    tie-insensitive.

    Returns one row per group: (gcol, *out_cols), out_cols[i] holding
    the ps[i] percentile (unrounded — callers round as before)."""
    n_p = len(ps)
    b = hist.withColumn("_bkt", F.floor(F.col(vcol)).cast("long"))
    # corpus pass 1: per-(group, unit bucket) weight sums — map-side
    # partial aggregation collapses the near-unique values onto the
    # grid-bounded bucket key space before the exchange
    bsum = b.groupBy(gcol, "_bkt").agg(
        F.sum(wcol).cast("long").alias("_bw")
    )
    wb = (
        Window.partitionBy(gcol)
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    off = bsum.select(
        gcol,
        "_bkt",
        "_bw",
        (F.sum("_bw").over(wb) - F.col("_bw")).cast("long").alias("_boff"),
    )
    tot = off.groupBy(gcol).agg(
        F.sum("_bw").cast("long").alias("_n")
    )
    tot = tot.select(
        gcol,
        "_n",
        *[
            (F.lit(float(p)) * (F.col("_n") - 1).cast("double")).alias(
                f"_pos{i}"
            )
            for i, p in enumerate(ps)
        ],
    )
    tot = tot.select(
        "*",
        *[
            F.floor(F.col(f"_pos{i}")).cast("long").alias(f"_lo{i}")
            for i in range(n_p)
        ],
    )
    # candidate buckets: only the 1-2 buckets whose cumulative span
    # covers an order-statistic index [lo+1, lo+2] survive — selected
    # on the |buckets|-row relation, never the corpus
    hit = None
    for i in range(n_p):
        c = (F.col("_boff") < F.col(f"_lo{i}") + 2) & (
            F.col("_boff") + F.col("_bw") >= F.col(f"_lo{i}") + 1
        )
        hit = c if hit is None else (hit | c)
    cand = (
        off.join(F.broadcast(tot), gcol)
        .filter(hit)
        .select(gcol, "_bkt", "_boff")
    )
    # corpus pass 2: map-side broadcast-join filter down to candidate
    # buckets, then collapse to per-value weights so the within-bucket
    # cumsum window sorts a grid-bounded partition
    sel = (
        b.join(F.broadcast(cand), [gcol, "_bkt"])
        .groupBy(gcol, "_bkt", "_boff", vcol)
        .agg(F.sum(wcol).cast("long").alias("_w"))
    )
    wv = (
        Window.partitionBy(gcol, "_bkt")
        .orderBy(vcol)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = sel.select(
        gcol,
        vcol,
        (F.col("_boff") + F.sum("_w").over(wv)).cast("long").alias("_cw"),
    )
    carry = ["_n"] + [f"_pos{i}" for i in range(n_p)] + [
        f"_lo{i}" for i in range(n_p)
    ]
    aggs = []
    for i in range(n_p):
        aggs.append(
            F.min(
                F.when(F.col("_cw") >= F.col(f"_lo{i}") + 1, F.col(vcol))
            ).alias(f"_lov{i}")
        )
        aggs.append(
            F.min(
                F.when(F.col("_cw") >= F.col(f"_lo{i}") + 2, F.col(vcol))
            ).alias(f"_hiv{i}")
        )
    picked = (
        cum.join(F.broadcast(tot), gcol).groupBy(gcol, *carry).agg(*aggs)
    )
    out = [F.col(gcol)]
    for i, name in enumerate(out_cols):
        pos = F.col(f"_pos{i}")
        lo_i = F.col(f"_lo{i}")
        hi_i = F.ceil(pos).cast("long")
        out.append(
            F.when(hi_i == lo_i, F.col(f"_lov{i}"))
            .otherwise(
                (hi_i.cast("double") - pos) * F.col(f"_lov{i}")
                + (pos - lo_i.cast("double")) * F.col(f"_hiv{i}")
            )
            .alias(name)
        )
    return picked.select(*out)


@register(
    "q_agg_weighted_median",
    oracle="""
    WITH x AS (
      SELECT l_returnflag AS flag,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                  AS BIGINT) AS v,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem),
    h AS (SELECT flag, v, CAST(SUM(w) AS BIGINT) AS w
          FROM x GROUP BY flag, v),
    cum AS (
      SELECT flag, v, w,
             CAST(SUM(w) OVER (PARTITION BY flag ORDER BY v
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cw
      FROM h),
    tot AS (SELECT flag, CAST(SUM(w) AS BIGINT) AS tw,
                   CAST(SUM(v * w) AS BIGINT) AS sw
            FROM h GROUP BY flag)
    SELECT c.flag,
           t.tw AS total_weight,
           ROUND(CAST(MIN(CASE WHEN 2 * c.cw >= t.tw THEN c.v END)
                      AS DOUBLE) / 100.0, 6) AS weighted_median,
           ROUND(CAST(t.sw AS DOUBLE) / t.tw / 100.0, 6)
             AS weighted_mean
    FROM cum c JOIN tot t ON t.flag = c.flag
    GROUP BY c.flag, t.tw, t.sw
    """,
)
def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median (and mean) of extended price per return
    flag — the inventory-weighted 'typical price' where the unweighted
    q_agg_median_mode answers a different question (every LINE equal vs
    every UNIT equal).  The lower weighted median: smallest price whose
    cumulative weight reaches half the total (2·cw ≥ tw kept in exact
    integers — no /2 rounding surface).

    Mechanics: the (flag, price) weight histogram is the only
    corpus-sized stage.  Prices are near-unique (26.7M histogram cells
    at sf10), so a flat per-flag cumulative window would sort millions
    of rows in |flags| tasks — instead SELECTION over a TWO-LEVEL
    prefix sum (round 13): per-(flag, 4096-wide price bucket)
    subtotals take a small per-flag window for the bucket offsets,
    the ONE bucket per flag whose cumulative span crosses tw/2 is
    located on that |buckets|-row relation, and only that bucket's
    prices (≤ 4096 grid cells) ride the within-bucket cumsum; cw =
    bucket offset + running sum, exact BIGINTs throughout.  The full
    histogram never rides a window or the final aggregate (it used
    to: 26.7M-row cumsum + aggregate, sf10 wall 20.7 s → see
    SCALE.md and OPTIMIZATION_r13.md).

    100 TB posture: one partial agg onto |flags|×|prices| groups, then
    bucket-bounded windows — no partition ever holds more than one
    price bucket; weighted quantiles at any scale stay exact as long
    as values live on a grid — the histogram IS the sketch."""
    li = load_table(spark, sf_dir, "lineitem")
    x = li.select(
        F.col("l_returnflag").alias("flag"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("v"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    # persist, not localCheckpoint: the histogram is 26.7M rows at
    # sf10 and the checkpoint's deserialized row storage OOMs a
    # default-8g driver, while the compressed columnar cache holds it
    # in a few hundred MB (measured; three consumers reuse it)
    h = (
        x.groupBy("flag", "v")
        .agg(F.sum("w").cast("long").alias("w"))
        .withColumn("bkt", F.floor(F.col("v") / WM_BUCKET).cast("long"))
        .persist()
    )
    bsum = h.groupBy("flag", "bkt").agg(
        F.sum("w").cast("long").alias("bw")
    )
    wb = (
        Window.partitionBy("flag")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    off = bsum.select(
        "flag",
        "bkt",
        "bw",
        (F.sum("bw").over(wb) - F.col("bw"))
        .cast("long")
        .alias("boff"),
    )
    tot = h.groupBy("flag").agg(
        F.sum("w").cast("long").alias("tw"),
        F.sum(F.col("v") * F.col("w")).cast("long").alias("sw"),
    )
    # SELECTION (round 13, the percentile_cont_by_hist idea): the lower
    # weighted median lives in exactly ONE bucket per flag — the first
    # whose through-bucket cumulative weight reaches half the total:
    # 2·(boff+bw) ≥ tw and 2·boff < tw (earlier buckets have every
    # 2·cw ≤ 2·boff < tw; later buckets only hold larger v).  Resolving
    # v inside that single grid-bounded bucket replaces the cumulative
    # window + final aggregate over the FULL near-unique histogram
    # (26.7M rows at sf10) with a map-side broadcast-join filter pass.
    # Exact integers throughout — the selected v is identical.
    cand = (
        off.join(F.broadcast(tot.select("flag", "tw")), "flag")
        .filter(
            (2 * (F.col("boff") + F.col("bw")) >= F.col("tw"))
            & (2 * F.col("boff") < F.col("tw"))
        )
        .select("flag", "bkt", "boff")
    )
    wv = (
        Window.partitionBy("flag", "bkt")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = h.join(F.broadcast(cand), ["flag", "bkt"]).select(
        "flag",
        "v",
        (F.col("boff") + F.sum("w").over(wv))
        .cast("long")
        .alias("cw"),
    )
    return (
        cum.join(F.broadcast(tot), "flag")
        .groupBy("flag", "tw", "sw")
        .agg(
            F.min(
                F.when(2 * F.col("cw") >= F.col("tw"), F.col("v"))
            ).alias("med_v")
        )
        .select(
            "flag",
            F.col("tw").alias("total_weight"),
            F.round(F.col("med_v").cast("double") / 100.0, 6).alias(
                "weighted_median"
            ),
            F.round(
                F.col("sw").cast("double") / F.col("tw") / 100.0, 6
            ).alias("weighted_mean"),
        )
    )


PWR_Z_ALPHA = 1.96  # two-sided 5%
PWR_Z_BETA = 0.8416  # 80% power
PWR_REL_EFFECT = 0.05  # planning target: detect a 5% relative lift


@register(
    "q_agg_power_mde",
    oracle=f"""
    WITH x AS (
      SELECT user_id % 2 AS arm,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      FROM events WHERE event_type = 'purchase'),
    g AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS BIGINT) AS s,
             CAST(SUM(CAST(v AS DECIMAL(38,0))
                      * CAST(v AS DECIMAL(38,0))) AS DECIMAL(38,0))
               AS s2
      FROM x GROUP BY arm),
    m AS (
      SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n0,
             MAX(CASE WHEN arm = 0 THEN s END) AS s0,
             MAX(CASE WHEN arm = 0 THEN s2 END) AS q0,
             MAX(CASE WHEN arm = 1 THEN n END) AS n1,
             MAX(CASE WHEN arm = 1 THEN s END) AS s1,
             MAX(CASE WHEN arm = 1 THEN s2 END) AS q1
      FROM g),
    c AS (
      SELECT n0, n1,
             ((n0 * CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * s0)
                / (CAST(n0 AS DOUBLE) * (n0 - 1))
              * (n0 - 1)
              + (n1 * CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1)
                / (CAST(n1 AS DOUBLE) * (n1 - 1))
                * (n1 - 1))
             / (n0 + n1 - 2) AS sp2,
             (CAST(s0 AS DOUBLE) + CAST(s1 AS DOUBLE))
               / (CAST(n0 AS DOUBLE) + n1) AS mu
      FROM m)
    SELECT n0 AS n_arm0, n1 AS n_arm1,
           ROUND(sqrt(sp2) / 100.0, 6) AS pooled_sd,
           ROUND(({PWR_Z_ALPHA} + {PWR_Z_BETA})
                 * sqrt(sp2 / n0 + sp2 / n1) / 100.0, 6) AS mde_abs,
           ROUND(({PWR_Z_ALPHA} + {PWR_Z_BETA})
                 * sqrt(sp2 / n0 + sp2 / n1) / mu, 6) AS mde_rel,
           CAST(CEIL(2.0 * ({PWR_Z_ALPHA} + {PWR_Z_BETA})
                     * ({PWR_Z_ALPHA} + {PWR_Z_BETA}) * sp2
                     / (({PWR_REL_EFFECT} * mu)
                        * ({PWR_REL_EFFECT} * mu))) AS BIGINT)
             AS n_per_arm_for_5pct
    FROM c
    """,
)
def q_agg_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment PLANNING for the purchase-value A/B: the minimum
    detectable effect at the CURRENT sample (80% power, two-sided 5%)
    and the per-arm n required to detect a 5% relative lift — the
    pre-launch calculation every experimentation platform runs before
    q_agg_welch_t ever gets to speak (an underpowered test that 'finds
    nothing' is the most expensive kind of nothing).  MDE =
    (z_α/2 + z_β)·√(sp²/n0 + sp²/n1); n = 2(z_α/2+z_β)²sp²/δ².

    Cross-engine exactness: per-arm moments exact (the q_agg_tost
    BIGINT/DECIMAL(38,0) discipline); pooled variance, MDE and the
    ceiling are fixed-order double expressions with shared z literals,
    rounded 6 (the CEIL boundary shares the accepted rounded-emission
    ulp class).

    100 TB posture: one corpus-sized partial agg onto 2 arm groups,
    single-row close-out — the q_agg_srm_check shape."""
    ev = load_table(spark, sf_dir, "events")
    x = ev.filter(F.col("event_type") == "purchase").select(
        (F.col("user_id") % 2).alias("arm"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("v"),
    )
    g = x.groupBy("arm").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum(
            F.col("v").cast("decimal(38,0)")
            * F.col("v").cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    m = g.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("s"))).alias("s0"),
        F.max(F.when(F.col("arm") == 0, F.col("s2"))).alias("q0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("s"))).alias("s1"),
        F.max(F.when(F.col("arm") == 1, F.col("s2"))).alias("q1"),
    )
    n0, n1 = F.col("n0"), F.col("n1")
    s0, s1 = F.col("s0").cast("double"), F.col("s1").cast("double")
    q0, q1 = F.col("q0").cast("double"), F.col("q1").cast("double")
    sp2 = (
        (n0 * q0 - s0 * F.col("s0"))
        / (n0.cast("double") * (n0 - 1))
        * (n0 - 1)
        + (n1 * q1 - s1 * F.col("s1"))
        / (n1.cast("double") * (n1 - 1))
        * (n1 - 1)
    ) / (n0 + n1 - 2)
    mu = (s0 + s1) / (n0.cast("double") + n1)
    zsum = PWR_Z_ALPHA + PWR_Z_BETA
    mde = zsum * F.sqrt(sp2 / n0 + sp2 / n1)
    return m.select(
        n0.alias("n_arm0"),
        n1.alias("n_arm1"),
        F.round(F.sqrt(sp2) / 100.0, 6).alias("pooled_sd"),
        F.round(mde / 100.0, 6).alias("mde_abs"),
        F.round(mde / mu, 6).alias("mde_rel"),
        F.ceil(
            2.0
            * zsum
            * zsum
            * sp2
            / ((PWR_REL_EFFECT * mu) * (PWR_REL_EFFECT * mu))
        )
        .cast("long")
        .alias("n_per_arm_for_5pct"),
    )


@register(
    "q_agg_mantel_haenszel",
    oracle="""
    WITH u AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS fx,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS fy
      FROM events GROUP BY user_id, CAST(ts AS DATE)),
    s AS (
      SELECT d,
             CAST(SUM(fx * fy) AS BIGINT) AS a,
             CAST(SUM(fx * (1 - fy)) AS BIGINT) AS b,
             CAST(SUM((1 - fx) * fy) AS BIGINT) AS c,
             CAST(SUM((1 - fx) * (1 - fy)) AS BIGINT) AS d_cell,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM u GROUP BY d),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
             CAST(SUM(a) AS BIGINT) AS a_tot,
             SUM(CAST(a AS DOUBLE) * d_cell / n) AS num,
             SUM(CAST(b AS DOUBLE) * c / n) AS den
      FROM s WHERE n > 0)
    SELECT n_strata, a_tot,
           CASE WHEN den > 0
                THEN ROUND(num / den, 6) END AS or_mh
    FROM t
    """,
)
def q_agg_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel common odds ratio of the click→purchase 2×2
    STRATIFIED BY DAY — the confounder-adjusted companion to
    q_agg_odds_ratio_ci: pooling all user-days into one table lets a
    day-level confounder (weekend traffic mix, a promo day) manufacture
    or mask association (Simpson's paradox); MH weights each day's
    within-stratum odds ratio by b·c/n, so only WITHIN-day association
    survives.  OR_MH = Σ(aᵢdᵢ/nᵢ) / Σ(bᵢcᵢ/nᵢ).

    Cross-engine exactness: per-stratum cells are exact BIGINTs off
    the same user-day flag collapse as the 2×2 family; each stratum
    contributes one fixed-order double term to DOUBLE sums whose
    ordering noise (~1e-15 over |days| terms) is absorbed by the
    rounded-6 emission; zero pooled denominator emits NULL.

    100 TB posture: the identical single-scan flag collapse as
    q_agg_mcnemar, then a |days|-bounded stratum rollup — adding the
    stratification costs one more small aggregate, not a scan."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("d")
    ).agg(
        F.max(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("fx"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("fy"),
    )
    s = u.groupBy("d").agg(
        F.sum(F.col("fx") * F.col("fy")).cast("long").alias("a"),
        F.sum(F.col("fx") * (1 - F.col("fy"))).cast("long").alias("b"),
        F.sum((1 - F.col("fx")) * F.col("fy")).cast("long").alias("c"),
        F.sum((1 - F.col("fx")) * (1 - F.col("fy")))
        .cast("long")
        .alias("d_cell"),
        F.count("*").cast("long").alias("n"),
    )
    t = s.filter(F.col("n") > 0).agg(
        F.count("*").cast("long").alias("n_strata"),
        F.sum("a").cast("long").alias("a_tot"),
        F.sum(
            F.col("a").cast("double") * F.col("d_cell") / F.col("n")
        ).alias("num"),
        F.sum(
            F.col("b").cast("double") * F.col("c") / F.col("n")
        ).alias("den"),
    )
    return t.select(
        "n_strata",
        "a_tot",
        F.when(
            F.col("den") > 0, F.round(F.col("num") / F.col("den"), 6)
        ).alias("or_mh"),
    )


HILL_K = 100  # order statistics in the Hill tail estimate


@register(
    "q_agg_hill_tail",
    oracle=f"""
    WITH top AS (
      SELECT n_chars,
             ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents QUALIFY rn <= {HILL_K} + 1),
    ref AS (SELECT CAST(n_chars AS BIGINT) AS x_ref FROM top
            WHERE rn = {HILL_K} + 1),
    h AS (
      SELECT AVG(ln(CAST(t.n_chars AS DOUBLE) / r.x_ref)) AS hmean,
             MIN(r.x_ref) AS x_ref
      FROM top t CROSS JOIN ref r
      WHERE t.rn <= {HILL_K})
    SELECT CAST({HILL_K} AS BIGINT) AS k,
           x_ref,
           ROUND(hmean, 6) AS mean_log_excess,
           CASE WHEN hmean > 0 THEN ROUND(1.0 / hmean, 6) END
             AS hill_alpha
    FROM h
    """,
)
def q_agg_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the document-length tail index — the
    extreme-value companion to x_zipf_fit (rank-frequency slope) and
    q_agg_gumbel_fit (block maxima): α̂ = 1 / mean(ln x₍ᵢ₎ − ln x₍ₖ₊₁₎)
    over the k = {HILL_K} largest lengths, the standard heavy-tail
    diagnostic for 'how Pareto is this corpus's long-document tail'
    (α ≤ 2 means infinite variance — sequence packing and batch-shape
    planning must plan for it; the per-shard max is NOT a fluke).

    Cross-engine exactness: which rows form the tail is pinned by the
    (n_chars DESC, doc_id) rank — ties at the threshold contribute
    identical values either way; k+1 integer order statistics, one
    AVG of {HILL_K} fixed-order ln terms rounded 6 (the x_word_entropy
    emission class); degenerate hmean ≤ 0 (all-equal tail) emits NULL.

    100 TB posture: TakeOrderedAndProject — per-partition top-(k+1)
    heaps merged on the driver, never a global sort; the estimate
    itself touches k+1 rows."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.orderBy(F.desc("n_chars"), F.asc("doc_id"))
    # checkpoint the k+1 = 101-row order-statistic relation: both the
    # tail branch and the threshold branch consume it, and without the
    # cut each would re-run the corpus TakeOrderedAndProject
    top = (
        d.select("doc_id", "n_chars")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(HILL_K + 1)
        .select("n_chars", F.row_number().over(w).alias("rn"))
        .localCheckpoint(eager=True)
    )
    ref = top.filter(F.col("rn") == HILL_K + 1).select(
        F.col("n_chars").cast("long").alias("x_ref")
    )
    h = (
        top.filter(F.col("rn") <= HILL_K)
        .crossJoin(F.broadcast(ref))
        .agg(
            F.avg(
                F.log(
                    F.col("n_chars").cast("double") / F.col("x_ref")
                )
            ).alias("hmean"),
            F.min("x_ref").alias("x_ref"),
        )
    )
    return h.select(
        F.lit(HILL_K).cast("long").alias("k"),
        "x_ref",
        F.round(F.col("hmean"), 6).alias("mean_log_excess"),
        F.when(
            F.col("hmean") > 0, F.round(1.0 / F.col("hmean"), 6)
        ).alias("hill_alpha"),
    )


COCHRAN_CHI2_CRIT_95_DF4 = 9.488  # chi-squared(4) 95% critical value


@register(
    "q_agg_cochran_q",
    oracle=f"""
    WITH u AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x1,
             MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x2,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS x3,
             MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS x4,
             MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS x5
      FROM events GROUP BY user_id, CAST(ts AS DATE)),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nb,
             CAST(SUM(x1) AS BIGINT) AS t1,
             CAST(SUM(x2) AS BIGINT) AS t2,
             CAST(SUM(x3) AS BIGINT) AS t3,
             CAST(SUM(x4) AS BIGINT) AS t4,
             CAST(SUM(x5) AS BIGINT) AS t5,
             CAST(SUM(x1 + x2 + x3 + x4 + x5) AS BIGINT) AS rsum,
             CAST(SUM((x1 + x2 + x3 + x4 + x5)
                      * (x1 + x2 + x3 + x4 + x5)) AS BIGINT) AS rsq
      FROM u),
    c AS (
      SELECT nb, t1, t2, t3, t4, t5, rsum, rsq,
             5 * (CAST(t1 AS DOUBLE) * t1 + CAST(t2 AS DOUBLE) * t2
                  + CAST(t3 AS DOUBLE) * t3 + CAST(t4 AS DOUBLE) * t4
                  + CAST(t5 AS DOUBLE) * t5)
             - CAST(rsum AS DOUBLE) * rsum AS num,
             5.0 * rsum - rsq AS den
      FROM s)
    SELECT nb AS n_blocks, t1 AS n_click, t3 AS n_purchase,
           CASE WHEN den > 0 THEN ROUND(4.0 * num / (5.0 * den), 6) END
             AS cochran_q,
           CASE WHEN den > 0
                THEN CAST(ROUND(4.0 * num / (5.0 * den), 6)
                          > {COCHRAN_CHI2_CRIT_95_DF4} AS INTEGER)
           END AS reject_equal_rates
    FROM c
    """,
)
def q_agg_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q across ALL FIVE event-type incidence flags on the
    same user-day blocks — the k-treatment generalization of
    q_agg_mcnemar (k = 2 reduces to it exactly): do the five event
    types occur on a user-day at the SAME rate, accounting for the
    pairing?  Q = k(k−1)·(kΣTⱼ² − (ΣR)²) / (k·ΣR − ΣR²) ~ χ²(k−1),
    with Tⱼ the per-type block totals and R the per-block row sums —
    the within-subjects ANOVA of the binary world, next to
    q_agg_friedman (ranks) and q_agg_chi2_uniform_dow (independent
    counts).

    Cross-engine exactness: every moment (Tⱼ, ΣR, ΣR²) is an exact
    BIGINT off ONE flag-collapse scan; Q is one fixed-order double
    expression rounded 6 against the shared χ²(4) literal; the
    degenerate all-equal-rows case (den = 0) emits NULL, and the
    reject flag rides as nullable INT (the q_agg_mcnemar NULL
    canonicalization rule).

    100 TB posture: identical single-scan user-day collapse as the
    2×2 family, then a single-row rollup — k widens the row, not the
    shuffle."""
    ev = load_table(spark, sf_dir, "events")
    flags = [
        F.max(
            F.when(F.col("event_type") == t, 1).otherwise(0)
        ).alias(f"x{i}")
        for i, t in enumerate(
            ["click", "view", "purchase", "signup", "error"], 1
        )
    ]
    u = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("d")
    ).agg(*flags)
    r = sum(F.col(f"x{i}") for i in range(1, 6))
    s = u.agg(
        F.count("*").cast("long").alias("nb"),
        *[
            F.sum(F.col(f"x{i}")).cast("long").alias(f"t{i}")
            for i in range(1, 6)
        ],
        F.sum(r).cast("long").alias("rsum"),
        F.sum(r * r).cast("long").alias("rsq"),
    )
    tsq = sum(
        F.col(f"t{i}").cast("double") * F.col(f"t{i}")
        for i in range(1, 6)
    )
    num = 5 * tsq - F.col("rsum").cast("double") * F.col("rsum")
    den = 5.0 * F.col("rsum") - F.col("rsq")
    qstat = F.round(4.0 * num / (5.0 * den), 6)
    return s.select(
        F.col("nb").alias("n_blocks"),
        F.col("t1").alias("n_click"),
        F.col("t3").alias("n_purchase"),
        F.when(den > 0, qstat).alias("cochran_q"),
        F.when(
            den > 0,
            (qstat > COCHRAN_CHI2_CRIT_95_DF4).cast("int"),
        ).alias("reject_equal_rates"),
    )
