"""Aggregation operators (SURVEY.md §2.B "Aggregation", keys a1-a11).

All grouped aggregation compiles to HashAggregateExec with automatic
partial (map-side) + final aggregation — one shuffle on the group
keys, no driver involvement. At 100 TB the only knobs are shuffle
partition sizing (AQE coalesces) and key skew (AQE skew handling);
nothing here collects to the driver.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_to_es_spark.functions.hashing import hash_bucket, md5_60_sql
from hive_to_es_spark.functions.money import cents, sum_cents
from hive_to_es_spark.io import load_tables
from hive_to_es_spark.registry import register

# TPC-H Q1 shape: scan + filter + 8-way grouped agg on lineitem.
# Flagship query (BASELINE.md row 1). Sums in exact integer CENTS and
# averages in exact integer MICRO-units (cents*10^4 DIV count) — the
# a20/p17/j8 money rule, round 11: the groups here grow unboundedly
# with the data (~800k rows/group at the 8x ladder), which is exactly
# the class where round(sum(double), 2) was measured to diverge
# cross-engine (j8, ~1.4M rows/group). Integer cents are associative
# and exact at any scale; cents*10^4 stays under bigint overflow up
# to ~1e15 cents of group sum (~10 PB of fixture-density money data).
_A1_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)      AS sum_qty_cents,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_price_cents,
  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
                                                                    AS sum_disc_price_cents,
  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT)
                                                                    AS sum_charge_cents,
  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) * 10000 // count(*) AS BIGINT)      AS avg_qty_micro,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) * 10000 // count(*) AS BIGINT) AS avg_price_micro,
  CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) * 10000 // count(*) AS BIGINT)      AS avg_disc_micro,
  count(*)                                                          AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@register("a1_hash_agg", _A1_ORACLE)
def a1_hash_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped sum/avg/count (TPC-H Q1 shape) — partial+final hash agg.

    Money sums in exact bigint cents, averages in exact bigint
    micro-units (see functions/money.py for why round(sum(double), 2)
    is not scale-safe over unboundedly growing groups).
    """
    li = load_tables(spark, sf_dir).lineitem
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    agg = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            sum_cents("l_quantity").alias("sum_qty_cents"),
            sum_cents("l_extendedprice").alias("sum_base_price_cents"),
            sum_cents(disc_price).alias("sum_disc_price_cents"),
            sum_cents(charge).alias("sum_charge_cents"),
            sum_cents("l_discount").alias("_disc_cents"),
            F.count("*").alias("count_order"),
        )
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty_cents",
        "sum_base_price_cents",
        "sum_disc_price_cents",
        "sum_charge_cents",
        # DECIMAL(38,0) widening on every unbounded-sum multiply: bigint
        # cents * 10^4 wraps at ~9.2e14 cents (~$9.2T) per group, reached
        # near TPC-H SF ~1e5 (round-11 review); the quotient is bounded
        # (an average) so DIV's bigint result is safe
        F.expr("CAST(sum_qty_cents AS DECIMAL(38,0)) * 10000 DIV count_order").alias("avg_qty_micro"),
        F.expr("CAST(sum_base_price_cents AS DECIMAL(38,0)) * 10000 DIV count_order").alias("avg_price_micro"),
        F.expr("CAST(_disc_cents AS DECIMAL(38,0)) * 10000 DIV count_order").alias("avg_disc_micro"),
        "count_order",
    )


_A2_ORACLE = """
SELECT l_returnflag,
       count(DISTINCT l_suppkey) AS n_supp,
       CAST(sum(DISTINCT CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
         AS sum_distinct_qty_cents
FROM lineitem GROUP BY l_returnflag
"""


@register("a2_distinct_agg", _A2_ORACLE)
def a2_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(DISTINCT)/sum(DISTINCT) — expand+two-phase agg in Spark.

    The distinct sum runs over per-row cents (exact for the 2dp
    fixture quantities, so distinct-on-cents == distinct-on-value);
    the money rule, functions/money.py.
    """
    li = load_tables(spark, sf_dir).lineitem
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.sum_distinct(cents("l_quantity")).alias("sum_distinct_qty_cents"),
    )


_A3_ORACLE = """
SELECT count(*) AS n, min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) * 10000 // count(*) AS BIGINT)
         AS avg_price_micro
FROM orders
"""


@register("a3_global_agg", _A3_ORACLE)
def a3_global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped (global) aggregate — single-row result, partial agg
    on every partition then one tiny final reduce. Sum in exact bigint
    cents, avg in exact bigint micro-units (functions/money.py)."""
    o = load_tables(spark, sf_dir).orders
    return o.agg(
        F.count("*").alias("n"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        sum_cents("o_totalprice").alias("total_cents"),
    ).select(
        "n",
        "min_price",
        "max_price",
        "total_cents",
        F.expr("CAST(total_cents AS DECIMAL(38,0)) * 10000 DIV n").alias("avg_price_micro"),
    )


_A4_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
       count(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


@register("a4_grouping_sets", _A4_ORACLE)
def a4_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS multi-level aggregate (one shuffle, expand node).

    Uses DataFrame.groupingSets (Spark 4) — no temp view, so the
    operator stays side-effect-free on a caller-provided session.
    """
    li = load_tables(spark, sf_dir).lineitem
    return li.groupingSets(
        [[F.col("l_returnflag"), F.col("l_linestatus")], [F.col("l_returnflag")], []],
        F.col("l_returnflag"),
        F.col("l_linestatus"),
    ).agg(sum_cents("l_quantity").alias("sum_qty_cents"), F.count("*").alias("n"))


_A5_ORACLE = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


@register("a5_rollup", _A5_ORACLE)
def a5_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy aggregate (exact bigint cents — the grand-
    total row accumulates the WHOLE table, the fastest-growing group
    in the file; functions/money.py)."""
    o = load_tables(spark, sf_dir).orders
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"), sum_cents("o_totalprice").alias("total_cents")
    )


_A6_ORACLE = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@register("a6_cube", _A6_ORACLE)
def a6_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregate (all grouping combinations)."""
    o = load_tables(spark, sf_dir).orders
    return o.cube("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("n"))


_A7_ORACLE = """
SELECT o_custkey,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders GROUP BY o_custkey
HAVING sum(CAST(round(o_totalprice * 100) AS BIGINT)) > 150000000
"""


@register("a7_having", _A7_ORACLE)
def a7_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING). The threshold decision runs
    on the exact bigint-cents sum — a float sum near the boundary
    could flip membership per engine (functions/money.py)."""
    o = load_tables(spark, sf_dir).orders
    return (
        o.groupBy("o_custkey")
        .agg(sum_cents("o_totalprice").alias("total_cents"))
        .filter(F.col("total_cents") > 150_000_000)
    )


@register("a8_approx_distinct", None)  # HLL sketches differ per engine -> rows-only
def a8_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the 100 TB substitute
    for exact distinct counts; sketch values are engine-specific."""
    li = load_tables(spark, sf_dir).lineitem
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_suppkey", rsd=0.02).alias("approx_supp"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_part"),
    )


# Stats over l_quantity (small magnitudes -> cross-engine float noise
# far below the 6dp rounding); corr/median in [0,1]/price domain.
_A9_ORACLE = """
SELECT l_returnflag,
       round(stddev_samp(l_quantity), 6) AS sd_qty,
       round(var_samp(l_quantity), 6) AS var_qty,
       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       round(quantile_cont(l_quantity, 0.5), 6) AS median_qty
FROM lineitem GROUP BY l_returnflag
"""


@register("a9_stats_agg", _A9_ORACLE)
def a9_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev/variance/corr/exact percentile."""
    li = load_tables(spark, sf_dir).lineitem
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("median_qty"),
    )


_A10_ORACLE = """
SELECT o_orderstatus,
       array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS priorities
FROM orders GROUP BY o_orderstatus
"""


@register("a10_collect", _A10_ORACLE)
def a10_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set + deterministic ordering (sort_array) — emitted as a
    joined string for hash-stable cross-engine comparison."""
    o = load_tables(spark, sf_dir).orders
    return o.groupBy("o_orderstatus").agg(
        F.array_join(F.sort_array(F.collect_set("o_orderpriority")), ",").alias("priorities")
    )


# Unique ordering key: cents * 1e8 + orderkey, exact in double < 2^53
# (cents <= ~6e7, so cents*1e8 <= 6e15 < 9.0e15) and unique as long as
# o_orderkey < 1e8 — which holds through TPC-H sf10 (orderkey 6e7).
_A11_ORACLE = """
SELECT o_orderstatus,
       arg_max(o_orderkey, round(o_totalprice * 100) * 100000000 + o_orderkey) AS best_order,
       arg_min(o_orderkey, round(o_totalprice * 100) * 100000000 + o_orderkey) AS worst_order,
       max(o_totalprice) AS max_price
FROM orders GROUP BY o_orderstatus
"""


@register("a11_min_max_by", _A11_ORACLE)
def a11_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax/argmin (max_by/min_by) with an explicit unique tiebreak."""
    o = load_tables(spark, sf_dir).orders
    key = F.round(F.col("o_totalprice") * 100, 0) * 100000000 + F.col("o_orderkey")
    return o.groupBy("o_orderstatus").agg(
        F.max_by(F.col("o_orderkey"), key).alias("best_order"),
        F.min_by(F.col("o_orderkey"), key).alias("worst_order"),
        F.max("o_totalprice").alias("max_price"),
    )


# Oracle mirrors the pivot as conditional aggregation — same output
# columns (one per pinned status value), engine-portable.
_A12_ORACLE = """
SELECT o_orderpriority,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
FROM orders GROUP BY o_orderpriority
"""


@register("a12_pivot", _A12_ORACLE)
def a12_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts per priority, one column per status.

    The status values are PINNED (pivot(col, values)) — without the
    explicit list Spark must scan once to discover values, an extra
    pass worth avoiding at scale (and column sets must be static for
    the sink schema anyway)."""
    o = load_tables(spark, sf_dir).orders
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0, ["F", "O", "P"])
    )


# a13 — the boolean-aggregate family: count_if / bool_and / bool_or
# (ANSI EVERY/ANY). DuckDB spells count_if as a FILTER clause.
_A13_ORACLE = """
SELECT o_orderstatus,
       CAST(count(*) FILTER (WHERE o_totalprice > 300000) AS BIGINT) AS n_big,
       bool_and(o_totalprice > 1000) AS all_over_1k,
       bool_or(o_orderpriority = '1-URGENT') AS any_urgent
FROM orders GROUP BY o_orderstatus
"""


@register("a13_bool_agg", _A13_ORACLE)
def a13_bool_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean/conditional aggregates: count_if, bool_and (EVERY),
    bool_or (ANY) — predicate folding into the aggregate, one pass,
    map-side partial like any hash agg."""
    o = load_tables(spark, sf_dir).orders
    return o.groupBy("o_orderstatus").agg(
        F.count_if(F.col("o_totalprice") > 300000).cast("bigint").alias("n_big"),
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
    )


# a14 — UNPIVOT (wide -> long reshape, the inverse of a12). Oracle:
# the relational spelling (UNION ALL of one select per measure).
_A14_ORACLE = """
SELECT measure, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       CAST(sum(CAST(round(v * 100) AS BIGINT)) * 10000 // count(*) AS BIGINT)
         AS mean_micro
FROM (
  SELECT 'quantity' AS measure, l_quantity AS v FROM lineitem
  UNION ALL SELECT 'extendedprice', l_extendedprice FROM lineitem
  UNION ALL SELECT 'discount', l_discount FROM lineitem
  UNION ALL SELECT 'tax', l_tax FROM lineitem
) long
GROUP BY measure
"""


@register("a14_unpivot", _A14_ORACLE)
def a14_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: lineitem's four numeric measures reshaped to
    (measure, value) long form, then profiled per measure — the
    feature-statistics pass every dataset audit runs. Spark's unpivot
    is a zero-shuffle narrow expansion (each row emits 4); the agg is
    a 4-group two-phase hash agg."""
    li = load_tables(spark, sf_dir).lineitem
    long = li.unpivot(
        [],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "v",
    ).select(
        F.expr("substring(measure, 3)").alias("measure"), "v"
    )
    return (
        long.groupBy("measure")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            sum_cents("v").alias("total_cents"),
        )
        .select(
            "measure",
            "n",
            "total_cents",
            F.expr("CAST(total_cents AS DECIMAL(38,0)) * 10000 DIV n").alias("mean_micro"),
        )
    )


# a15 — Count-Min sketch (depth 4 x width 256) with salted md5_60
# row hashes, so the WHOLE sketch is engine-portable and value-
# verified (unlike a8's HLL, whose sketch bytes are engine-specific).
# est >= exact is the CMS guarantee; the probe emits both so the
# overestimate is visible data, not a hidden property.
_A15_ORACLE = f"""
WITH rows_h AS (
  SELECT l_suppkey AS k, t.i,
         {md5_60_sql("concat('c', t.i, '|', l_suppkey)")} % 256 AS bucket
  FROM lineitem CROSS JOIN (SELECT unnest(range(4)) AS i) t
),
cms AS (SELECT i, bucket, CAST(count(*) AS BIGINT) AS n FROM rows_h GROUP BY i, bucket),
exact AS (SELECT l_suppkey AS k, CAST(count(*) AS BIGINT) AS exact_n FROM lineitem GROUP BY l_suppkey)
SELECT e.k AS l_suppkey, e.exact_n, min(c.n) AS cms_est
FROM exact e
CROSS JOIN (SELECT unnest(range(4)) AS i) t
JOIN cms c ON c.i = t.i
  AND c.bucket = {md5_60_sql("concat('c', t.i, '|', e.k)")} % 256
GROUP BY e.k, e.exact_n
"""

_CMS_DEPTH, _CMS_WIDTH = 4, 256


def _cms_bucket(key, i):
    """Salted row hash -> CMS bucket (md5_60 of 'c<i>|<key>')."""
    return hash_bucket(
        F.concat(F.lit("c"), F.lit(str(i)), F.lit("|"), key.cast("string")), _CMS_WIDTH
    )


@register("a15_count_min", _A15_ORACLE)
def a15_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over l_suppkey: build the 4x256 counter table
    in one explode + groupBy pass (the sketch shuffles 1024 counters,
    never rows — the point at 100 TB: frequency estimates for ANY key
    from a fixed-size structure), then probe every supplier and emit
    exact vs estimate side by side (est >= exact always; collisions
    overestimate, bounded by n/width per row).

    a8's HLL is the cardinality sketch (engine-specific bytes ->
    rows-only); this is the frequency sketch, portable by
    construction -> fully value-verified."""
    li = load_tables(spark, sf_dir).lineitem.select(F.col("l_suppkey").alias("k"))
    hashed = li.select(
        "k",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("bigint").alias("i"),
                        _cms_bucket(F.col("k"), i).alias("bucket"),
                    )
                    for i in range(_CMS_DEPTH)
                ]
            )
        ).alias("h"),
    ).select("k", "h.i", "h.bucket")
    cms = hashed.groupBy("i", "bucket").agg(F.count("*").cast("bigint").alias("n"))
    exact = li.groupBy("k").agg(F.count("*").cast("bigint").alias("exact_n"))
    probes = exact.select(
        "k",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("bigint").alias("i"),
                        _cms_bucket(F.col("k"), i).alias("bucket"),
                    )
                    for i in range(_CMS_DEPTH)
                ]
            )
        ).alias("h"),
    ).select("k", "exact_n", "h.i", "h.bucket")
    return (
        probes.join(F.broadcast(cms), ["i", "bucket"])
        .groupBy(F.col("k").alias("l_suppkey"), "exact_n")
        .agg(F.min("n").alias("cms_est"))
    )


# Exact linear-interpolation percentiles: Spark `percentile` and
# DuckDB `quantile_cont` implement the same estimator, verified to
# agree to the cent on the fixture data.
_A16_ORACLE = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 2) AS p50,
       round(quantile_cont(l_extendedprice, 0.9), 2) AS p90,
       round(quantile_cont(l_extendedprice, 0.99), 2) AS p99
FROM lineitem GROUP BY l_returnflag
"""


@register("a16_percentiles", _A16_ORACLE)
def a16_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of price per return flag — the latency/size
    distribution query of every monitoring pipeline.

    Scale note: EXACT percentile buffers each group's values in the
    aggregation (sort-based), so at 100 TB per-group cardinality this
    is the one agg in the repo whose memory is O(group size) — the
    production form is `approx_percentile` (mergeable t-digest sketch,
    bounded memory, same plan shape) traded exactly like a8's HLL vs
    a2's exact distinct; it is engine-specific, so the EXACT form is
    what carries the cross-engine value oracle here.
    """
    li = load_tables(spark, sf_dir).lineitem
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 2).alias("p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 2).alias("p90"),
        F.round(F.percentile("l_extendedprice", F.lit(0.99)), 2).alias("p99"),
    )


# DuckDB has no width_bucket; the oracle restates the FULL ANSI
# semantics arithmetically — including the under/overflow buckets 0
# and n+1, so the formula holds for ANY input domain rather than
# assuming prices stay inside [0, hi) (the fixture max clears the cap
# by only 0.0014%; an unguarded 1+floor(x/w) would keep matching
# width_bucket's overflow bucket coincidentally up to hi+w and then
# break with no hint why). With (lo, hi, n) = (0, 500000, 20) the
# bucket width 25000 is exact in doubles (500000/20), so
# floor(x/25000)+1 is bit-identical to Spark's
# WidthBucket((x-lo)/((hi-lo)/n)) inside the range.
_A17_ORACLE = """
SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
            WHEN o_totalprice >= 500000 THEN 21
            ELSE 1 + floor(o_totalprice / 25000.0) END AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       round(min(o_totalprice), 2) AS lo_val,
       round(max(o_totalprice), 2) AS hi_val
FROM orders
GROUP BY 1
"""


@register("a17_histogram", _A17_ORACLE)
def a17_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram over a numeric column via the ANSI
    width_bucket built-in — the one-pass distribution profile every
    data-quality report starts with (and the basis of CBO histogram
    stats). 20 buckets over [0, 500000); per-bucket count plus the
    observed min/max make the bucket boundaries themselves checkable.

    Scale shape: pure map-side classification + a 20-group partial
    aggregate — the shuffle carries at most n_buckets rows per task
    regardless of input size. The streaming twin is e1 with
    width_bucket in place of the time window."""
    o = load_tables(spark, sf_dir).orders
    return (
        o.select(
            F.width_bucket(F.col("o_totalprice"), F.lit(0), F.lit(500000), F.lit(20))
            .cast("bigint")
            .alias("bucket"),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo_val"),
            F.round(F.max("o_totalprice"), 2).alias("hi_val"),
        )
    )


# Misra-Gries heavy hitters: candidates from bounded memory, counts
# from one exact pass over candidates only. The oracle is the direct
# exact query — the sketch phase must produce a candidate superset,
# so the final answer is exactly the frequent-item set.
_A18_K = 30

_A18_ORACLE = f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
tot AS (SELECT count(*) AS n_total FROM toks)
SELECT w,
       count(*) AS cnt,
       round(count(*) / (SELECT n_total FROM tot) , 6) AS freq
FROM toks GROUP BY w
HAVING count(*) * {_A18_K} > (SELECT n_total FROM tot)
"""


def misra_gries_survivors(words, k: int) -> set:
    """k-counter Misra-Gries over one stream; returns the survivor
    set. Pure function so the superset theorem is property-tested
    directly (tests/test_property.py) against adversarial streams and
    partitionings — the same code the executor runs."""
    counters: dict = {}
    for w in words:
        if w in counters:
            counters[w] += 1
        elif len(counters) < k:
            counters[w] = 1
        else:
            dead = [key for key, c in counters.items() if c == 1]
            for key in counters:
                counters[key] -= 1
            for key in dead:
                del counters[key]
    return set(counters)


@register("a18_heavy_hitters", _A18_ORACLE)
def a18_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters (frequency > n/k) via Misra-Gries + exact verify.

    Two phases, the production shape for top-term mining over a corpus
    too wide to groupBy every distinct term:
    1. mapInPandas runs a k-counter Misra-Gries summary PER PARTITION
       (state persists across the partition's Arrow batches inside the
       generator). MG with k counters guarantees any item with local
       count > n_i/(k+1) survives; an item with GLOBAL count > N/k
       must exceed n_i/k on at least one partition (pigeonhole), so
       the union of partition survivors is a certified candidate
       superset. Each partition emits <= k candidate rows — the
       shuffle carries k x n_partitions rows, never the term universe.
    2. One exact count restricted to candidates (broadcast semi-join)
       + the threshold filter turns the superset into the exact
       answer, which is why a full value-level SQL oracle applies to a
       sketch-based plan.

    At 100 TB: phase 1 memory is O(k) per task regardless of skew;
    phase 2's shuffle only carries candidate terms. Contrast a15
    (Count-Min: per-key estimates, fixed counters) — MG answers "which
    items are frequent" with certainty, CM answers "how frequent is
    any key" approximately."""

    def mg_partition(batches):
        def words():
            for pdf in batches:
                yield from pdf["w"]

        yield pd.DataFrame({"w": list(misra_gries_survivors(words(), _A18_K))})

    toks = (
        load_tables(spark, sf_dir)
        .documents.select(F.explode(F.split("text", " ")).alias("w"))
    )
    cands = toks.mapInPandas(mg_partition, "w STRING").distinct()
    total = toks.agg(F.count("*").alias("n_total"))
    return (
        toks.join(F.broadcast(cands), "w")
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * _A18_K > F.col("n_total"))
        .select("w", "cnt", F.round(F.col("cnt") / F.col("n_total"), 6).alias("freq"))
    )


_A19_ORACLE = """
SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt
FROM (
  SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
         row_number() OVER (PARTITION BY o_orderstatus
                            ORDER BY count(*) DESC, o_orderpriority ASC) AS rn
  FROM orders GROUP BY o_orderstatus, o_orderpriority
)
WHERE rn = 1
"""


@register("a19_mode_per_group", _A19_ORACLE)
def a19_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: the most frequent order priority
    per order status, ties broken by value order. Built-in `mode()`
    is tie-nondeterministic in both engines, so the portable form is
    count + one row_number over the tiny (group x value) aggregate —
    the aggregate shrinks the data BEFORE the window, so the window
    sorts |status x priority| rows (15 here), never the fact table.
    At 100 TB: two map-side-combining aggregates and a window over
    kilobytes."""
    o = load_tables(spark, sf_dir).orders
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("cnt")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("cnt").desc(), F.col("o_orderpriority").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus", F.col("o_orderpriority").alias("mode_priority"), "cnt"
        )
    )


# a20 — exact DECIMAL money aggregation: the HiveQL DECIMAL surface
# (ledger semantics) as its own registered op. Everywhere else the
# engine prices money as double + round-to-cents, which is fine for
# analytics but NOT ledger-grade: a double sum's error grows with row
# count and partition order. DECIMAL(18,2) sums are exact at any
# scale and any aggregation order — Spark widens sum to DECIMAL(28,2)
# (so ~10^26 cents before overflow) and keeps Tungsten's codegen'd
# long-backed decimal path. Results are emitted as exact decimal
# STRINGS: the oracle harness renders floats at fixed 6dp, so a
# decimal-vs-float dtype difference between engines would break the
# compare even when values agree; the string form is representation-
# free. avg is deliberately absent — Spark and DuckDB assign
# different result scales to decimal division, so an exact-avg
# contract would pin engine-specific scale rules, not semantics.
_A20_ORACLE = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS total_exact,
       CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS min_exact,
       CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS max_exact
FROM orders GROUP BY o_orderstatus
"""


@register("a20_decimal_money", _A20_ORACLE)
def a20_decimal_money(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DECIMAL(18,2) money aggregation per order status — the
    Hive ledger path (sum is exact and order-independent, unlike the
    double sums the analytics ops use). Same two-phase hash-agg plan
    as a1; the decimal arithmetic stays inside whole-stage codegen
    (Spark backs DECIMAL(<=18) partials with longs)."""
    o = load_tables(spark, sf_dir).orders
    d = F.col("o_totalprice").cast("decimal(18,2)")
    return o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(d).cast("string").alias("total_exact"),
        F.min(d).cast("string").alias("min_exact"),
        F.max(d).cast("string").alias("max_exact"),
    )


# a21 — exact quantiles via histogram + cumulative pick. a16 answers
# "approximately where is p99" with interpolation (quantile_cont /
# percentile_approx); a21 answers it EXACTLY, and does it with a plan
# that stays scalable where the naive exact plan (row_number over the
# fact table partitioned by 3 return flags) would collapse to 3 tasks
# — the w7 failure shape. The trick: l_quantity has a small discrete
# domain, so group to a (flag, value, count) histogram first (map-side
# combined, ~|flags|x|domain| rows cross the wire), then one window
# over that TINY aggregate turns cumulative counts into type-1
# (ceil-rank) order statistics: q = min value whose cumulative count
# reaches ceil(n*q/100). Every arithmetic step is integer, so the
# result is the exact dataset value on both engines — no float
# interpolation to disagree about.
_A21_ORACLE = """
WITH hist AS (
  SELECT l_returnflag, CAST(floor(l_quantity) AS BIGINT) AS qty,
         CAST(count(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2
),
cum AS (
  SELECT l_returnflag, qty, c,
         CAST(sum(c) OVER (PARTITION BY l_returnflag ORDER BY qty) AS BIGINT) AS cum,
         CAST(sum(c) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
  FROM hist
)
SELECT l_returnflag,
  CAST(max(n) AS BIGINT) AS n_rows,
  CAST(min(CASE WHEN cum >= (n*25 + 99) // 100 THEN qty END) AS BIGINT) AS q25,
  CAST(min(CASE WHEN cum >= (n*50 + 99) // 100 THEN qty END) AS BIGINT) AS q50,
  CAST(min(CASE WHEN cum >= (n*75 + 99) // 100 THEN qty END) AS BIGINT) AS q75,
  CAST(min(CASE WHEN cum >= (n*99 + 99) // 100 THEN qty END) AS BIGINT) AS q99
FROM cum GROUP BY l_returnflag
"""


@register("a21_exact_quantile_hist", _A21_ORACLE)
def a21_exact_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact type-1 quantiles of l_quantity per return flag via the
    histogram plan (see module comment above): partial-combined
    (flag, value) counts, a cumulative window over the tiny histogram,
    ceil-rank pick in pure integers. At 100 TB the fact table
    contributes one map-combined aggregate; everything after runs on
    |flags| x |domain| rows. For continuous domains the same plan
    applies after a fixed-width binning pass (a17's histogram), with
    the bin width setting the exactness granularity."""
    li = load_tables(spark, sf_dir).lineitem
    # floor(), not a bare double->bigint cast: Spark's cast truncates
    # while DuckDB's CAST rounds (the gotcha-list divergence class);
    # floor is identical in both engines, so fractional quantities
    # bucket the same way. Integral fixture values are unaffected.
    hist = li.groupBy(
        "l_returnflag", F.floor("l_quantity").cast("bigint").alias("qty")
    ).agg(F.count("*").cast("bigint").alias("c"))
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("qty")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("l_returnflag")
    cum = hist.select(
        "l_returnflag",
        "qty",
        F.sum("c").over(w_cum).cast("bigint").alias("cum"),
        F.sum("c").over(w_all).cast("bigint").alias("n"),
    )
    picks = [
        F.min(
            F.when(
                F.col("cum") >= F.expr(f"(n*{q} + 99) DIV 100"), F.col("qty")
            )
        ).cast("bigint").alias(f"q{q}")
        for q in (25, 50, 75, 99)
    ]
    return cum.groupBy("l_returnflag").agg(
        F.max("n").cast("bigint").alias("n_rows"), *picks
    )


# a22 — per-customer spend trend as an EXACT integer rational. The
# OLS slope of cents-vs-days is (n·Σxy − Σx·Σy) / (n·Σxx − (Σx)²);
# both sides are bigint-exact, so the slope ships as a reduced-input
# (numerator, denominator) pair instead of a float that would drift
# cross-engine (the w14 z² idiom applied to regression).
_A22_ORACLE = """
WITH o AS (
  SELECT o_custkey,
         CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
              AS BIGINT) AS x,
         CAST(round(o_totalprice * 100) AS BIGINT) AS y
  FROM orders WHERE o_orderdate IS NOT NULL
),
s AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
  FROM o GROUP BY o_custkey
)
SELECT o_custkey, n_orders,
       n_orders * sxy - sx * sy AS slope_num,
       n_orders * sxx - sx * sx AS slope_den,
       CAST(CASE WHEN n_orders * sxy - sx * sy > 0 THEN 1
                 WHEN n_orders * sxy - sx * sy < 0 THEN -1
                 ELSE 0 END AS BIGINT) AS direction
FROM s WHERE n_orders * sxx - sx * sx > 0
"""


@register("a22_trend_slope", _A22_ORACLE)
def a22_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer spend TREND: the least-squares slope of order value
    (cents) against order date (days), the feature behind "is this
    account growing or shrinking" scoring. The slope is emitted as an
    exact bigint rational slope_num/slope_den plus its sign — float
    division never happens, so a downstream comparator can rank trends
    by cross-multiplication with zero rounding drift (regr_slope()
    would return a double whose last ulps differ per engine).

    One partial-combined hash aggregate over orders (five bigint sums
    share the pass); everything after is per-customer scalar math in
    whole-stage codegen. Customers with all orders on one day carry
    den=0 (slope undefined) and are filtered identically both sides.
    x is rebased to days-since-1992 to keep magnitudes small:
    |num| <= n²·x_max·y_max ≈ n²·2.5e3·5e7, safe in int64 up to
    n ≈ 8.5k orders/customer; beyond that rebase x per group
    (x − min(x), one extra agg) or move the two products to
    decimal(38,0) — the plan shape is unchanged."""
    o = load_tables(spark, sf_dir).orders.filter(F.col("o_orderdate").isNotNull())
    base = o.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.to_date(F.lit("1992-01-01"))
        )
        .cast("bigint")
        .alias("x"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y"),
    )
    s = base.groupBy("o_custkey").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n_orders") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n_orders") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        s.select(
            "o_custkey",
            "n_orders",
            num.alias("slope_num"),
            den.alias("slope_den"),
            F.when(num > 0, 1)
            .when(num < 0, -1)
            .otherwise(0)
            .cast("bigint")
            .alias("direction"),
        )
        .filter(F.col("slope_den") > 0)
    )


# ---------------------------------------------------------------------------
# a23: grid hotspot census — spatial density reporting (the Getis-Ord
# /KDE-lite primitive of geo-analytics engines): bucket points into a
# fixed grid, compare every cell's mass against its 3x3 neighborhood,
# flag cells denser than 2x their local average. The capability class
# none of the other aggregates cover: a17/a21 bin ONE dimension; a23
# is the 2-D binned census plus a LOCAL (neighborhood) comparison —
# the report that decides where a radius-join (or a skew salt) is
# even worth running.
#
# Fixture note (t21/t10 rendering precedent): events carries no
# coordinates, so points are RENDERED deterministically from
# event_id, mirrored in the oracle — 1 in 5 events snaps into one of
# 5 single-cell "hubs" (hub index (event_id DIV 5) % 5), the rest
# scatter uniformly over the 32x32 grid via the o4 md5 idiom with
# distinct salts per axis. Uniform background ~= a few points/cell,
# hubs = hundreds — exactly 5 hotspot cells at every SF, plus flat
# cells, so the flag is non-vacuous in both directions.
#
# Scale shape (100 TB): the corpus collapses in ONE map-combinable
# groupBy(cell) census bounded by the CONSTANT grid domain (<=1024
# rows at any corpus size); the 3x3 neighborhood is a scan-side
# 9-way explode OVER THE CENSUS (<=9216 rows) re-aggregated by cell —
# points never pair, the corpus never shuffles twice. The hotspot
# rule is an integer cross-multiplication (own*9 > 2*neighborhood,
# p18's no-float-threshold idiom); edge cells compare against their
# truncated neighborhood as-is (deterministic both engines).
_A23_GRID = 32  # cells per side
_A23_CELL = 16  # units per cell side
_A23_HUBS = 5


_A23_ORACLE = f"""
WITH pts AS (
  SELECT CASE WHEN event_id % 5 = 0
           THEN (4 + 6 * ((event_id // 5) % {_A23_HUBS})) * {_A23_CELL}
                + {md5_60_sql("event_id")} % {_A23_CELL}
           ELSE {md5_60_sql("event_id + 13")} % {_A23_GRID * _A23_CELL}
         END AS x,
         CASE WHEN event_id % 5 = 0
           THEN (3 + 5 * ((event_id // 5) % {_A23_HUBS})) * {_A23_CELL}
                + {md5_60_sql("event_id + 7")} % {_A23_CELL}
           ELSE {md5_60_sql("event_id + 29")} % {_A23_GRID * _A23_CELL}
         END AS y
  FROM events
),
census AS (
  SELECT x // {_A23_CELL} AS cx, y // {_A23_CELL} AS cy,
         CAST(count(*) AS BIGINT) AS n_points
  FROM pts GROUP BY 1, 2
),
spread AS (
  SELECT census.cx + dx.d AS nx, census.cy + dy.d AS ny, n_points
  FROM census,
       (SELECT unnest([-1, 0, 1]) AS d) dx,
       (SELECT unnest([-1, 0, 1]) AS d) dy
),
nbhd AS (
  SELECT nx AS cx, ny AS cy,
         CAST(sum(n_points) AS BIGINT) AS nbhd_points,
         CAST(count(*) AS BIGINT) AS nbhd_cells
  FROM spread GROUP BY 1, 2
)
SELECT c.cx, c.cy, c.n_points, n.nbhd_points, n.nbhd_cells,
       c.n_points * n.nbhd_cells > 2 * n.nbhd_points AS hotspot
FROM census c JOIN nbhd n USING (cx, cy)
"""


@register("a23_grid_hotspots", _A23_ORACLE)
def a23_grid_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D grid density census with 3x3-neighborhood hotspot flags
    (see block comment). One corpus-sized aggregate; everything after
    runs on the constant <=32x32 cell domain.

    Plan (pinned): ONE map-combined groupBy(cell) over the rendered
    points, a 9-way Generate over the census, the census-vs-
    neighborhood equijoin (broadcast — both sides are the bounded
    cell table), integer cross-multiplied flag. No window, no
    cartesian, no second corpus pass."""
    e = load_tables(spark, sf_dir).events
    eid = F.col("event_id")
    # Integer DIV throughout — double division + cast floors correctly
    # only below 2^53; ids/coords are bigints, keep them exact.
    hub = F.expr("event_id DIV 5") % _A23_HUBS
    span = _A23_GRID * _A23_CELL
    x = F.when(
        eid % 5 == 0,
        (4 + 6 * hub) * _A23_CELL + hash_bucket(eid, _A23_CELL),
    ).otherwise(hash_bucket(eid + 13, span))
    y = F.when(
        eid % 5 == 0,
        (3 + 5 * hub) * _A23_CELL + hash_bucket(eid + 7, _A23_CELL),
    ).otherwise(hash_bucket(eid + 29, span))
    # The census is referenced twice (own side + neighborhood side);
    # materialize the <=1024-row table so the corpus scan runs ONCE
    # (the t22/x15 lesson — Spark re-instantiates shared subtrees).
    from hive_to_es_spark.functions.lifecycle import materialize

    census = materialize(
        e.select(x.alias("x"), y.alias("y"))
        .select(
            F.expr(f"x DIV {_A23_CELL}").alias("cx"),
            F.expr(f"y DIV {_A23_CELL}").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count("*").cast("bigint").alias("n_points"))
    )
    offsets = F.array([F.lit(d) for d in (-1, 0, 1)])
    spread = census.select(
        F.explode(
            F.flatten(
                F.transform(
                    offsets,
                    lambda dx: F.transform(
                        offsets,
                        lambda dy: F.struct(
                            (F.col("cx") + dx).alias("cx"),
                            (F.col("cy") + dy).alias("cy"),
                            F.col("n_points").alias("n_points"),
                        ),
                    ),
                )
            )
        ).alias("s")
    ).select("s.cx", "s.cy", "s.n_points")
    nbhd = spread.groupBy("cx", "cy").agg(
        F.sum("n_points").cast("bigint").alias("nbhd_points"),
        F.count("*").cast("bigint").alias("nbhd_cells"),
    )
    # hotspot = denser than 2x the neighborhood AVERAGE over the cells
    # actually PRESENT (cross-multiplied): lone points in empty
    # surroundings (1*1 > 2*1 is false) and edge cells with truncated
    # neighborhoods self-correct, where a fixed /9 average flags both.
    return census.join(F.broadcast(nbhd), ["cx", "cy"]).select(
        "cx",
        "cy",
        "n_points",
        "nbhd_points",
        "nbhd_cells",
        (
            F.col("n_points") * F.col("nbhd_cells")
            > 2 * F.col("nbhd_points")
        ).alias("hotspot"),
    )
