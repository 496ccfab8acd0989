"""Scalar-function family operators (SURVEY.md §2.B "Scalar functions",
x1-x8). One representative composite query per family; each exercises
5-10 built-in functions and hash-matches DuckDB.

Everything here is a JVM Column expression — whole-stage-codegen'd,
zero Python in the data path. That is the point of this family: at
100 TB these run inside the scan/project pipeline for free; the same
logic as Python UDFs would pay an Arrow (or worse, pickle) round trip
per batch. Cross-engine alignment notes are inline where Spark and
DuckDB semantics diverge (cast rounding, dayofweek origin, floor
types).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_to_es_spark.functions.hashing import hash_bucket, md5_60_sql
from hive_to_es_spark.io import load_tables
from hive_to_es_spark.registry import register

_X1_ORACLE = """
SELECT p_partkey,
       concat_ws('|', lower(p_brand), upper(p_type))        AS tag,
       trim(substring(p_name, 1, 10))                       AS name10,
       length(p_name)                                       AS name_len,
       len(string_split(p_name, ' '))                       AS n_words,
       regexp_extract(p_type, '^([A-Z]+)', 1)               AS type_head,
       regexp_replace(p_name, '[aeiou]', '_', 'g')          AS devoweled,
       lpad(CAST(p_size AS VARCHAR), 4, '0')                AS size4,
       instr(p_name, 'red')                                 AS red_at,
       reverse(p_brand)                                     AS brand_rev
FROM part
WHERE p_partkey <= 500
"""


@register("x1_string", _X1_ORACLE)
def x1_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family: concat_ws/lower/upper/trim/substring/length/
    split/regexp_extract/regexp_replace/lpad/instr/reverse."""
    p = load_tables(spark, sf_dir).part.filter(F.col("p_partkey") <= 500)
    return p.select(
        "p_partkey",
        F.concat_ws("|", F.lower("p_brand"), F.upper("p_type")).alias("tag"),
        F.trim(F.substring("p_name", 1, 10)).alias("name10"),
        F.length("p_name").alias("name_len"),
        F.size(F.split("p_name", " ")).alias("n_words"),
        F.regexp_extract("p_type", r"^([A-Z]+)", 1).alias("type_head"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size4"),
        F.instr("p_name", "red").alias("red_at"),
        F.reverse("p_brand").alias("brand_rev"),
    )


# DuckDB dayofweek is 0-based (Sun=0), Spark 1-based (Sun=1) -> +1 in
# the oracle. Spark date_add returns DATE, so the oracle adds to DATE.
_X2_ORACLE = """
SELECT o_orderkey,
       year(o_orderdate)                                          AS y,
       quarter(o_orderdate)                                       AS q,
       month(o_orderdate)                                         AS m,
       dayofweek(o_orderdate) + 1                                 AS dow,
       date_trunc('month', o_orderdate)                           AS month_start,
       CAST(o_orderdate AS DATE) + 30                             AS plus30,
       date_diff('day', CAST(o_orderdate AS DATE), DATE '2001-09-02') AS days_to_cut,
       last_day(CAST(o_orderdate AS DATE))                        AS month_end,
       CAST(epoch(o_orderdate) AS BIGINT)                         AS epoch_s
FROM orders
WHERE o_orderkey <= 2000
"""


@register("x2_date", _X2_ORACLE)
def x2_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time family: year/quarter/month/dayofweek/date_trunc/
    date_add/datediff/last_day/unix_timestamp (UTC session)."""
    o = load_tables(spark, sf_dir).orders.filter(F.col("o_orderkey") <= 2000)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.quarter("o_orderdate").alias("q"),
        F.month("o_orderdate").alias("m"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("plus30"),
        F.datediff(F.lit("2001-09-02").cast("date"), F.col("o_orderdate").cast("date")).alias(
            "days_to_cut"
        ),
        F.last_day(F.col("o_orderdate").cast("date")).alias("month_end"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
    )


# floor/ceil return BIGINT in Spark but DECIMAL in DuckDB -> CAST;
# DuckDB has no pmod -> ((a % b) + b) % b; sqrt/ln/log10 kept on
# strictly positive inputs (DuckDB raises on sqrt(-1), Spark yields NaN).
_X3_ORACLE = """
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice, 1)                             AS r1,
       CAST(floor(l_extendedprice) AS BIGINT)                AS fl,
       CAST(ceil(l_extendedprice) AS BIGINT)                 AS ce,
       abs(l_discount - 0.05)                                AS ad,
       round(sqrt(l_quantity), 6)                            AS sq,
       round(pow(l_discount, 2), 6)                          AS p2,
       round(exp(l_discount), 6)                             AS ex,
       round(ln(l_extendedprice), 6)                         AS lnp,
       round(log10(l_extendedprice), 6)                      AS lgp,
       CAST(((CAST(l_quantity AS BIGINT) % 7) + 7) % 7 AS BIGINT) AS pm7,
       CAST(sign(l_discount - 0.05) AS DOUBLE)               AS sg,
       greatest(l_quantity, l_discount * 100)                AS gr,
       least(l_quantity, l_discount * 100)                   AS le
FROM lineitem
WHERE l_orderkey <= 1000
"""


@register("x3_math", _X3_ORACLE)
def x3_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family: round/floor/ceil/abs/sqrt/pow/exp/ln/log10/pmod/
    sign/greatest/least."""
    li = load_tables(spark, sf_dir).lineitem.filter(F.col("l_orderkey") <= 1000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 1).alias("r1"),
        F.floor("l_extendedprice").alias("fl"),
        F.ceil("l_extendedprice").alias("ce"),
        F.abs(F.col("l_discount") - 0.05).alias("ad"),
        F.round(F.sqrt("l_quantity"), 6).alias("sq"),
        F.round(F.pow("l_discount", F.lit(2)), 6).alias("p2"),
        F.round(F.exp("l_discount"), 6).alias("ex"),
        F.round(F.log("l_extendedprice"), 6).alias("lnp"),
        F.round(F.log10("l_extendedprice"), 6).alias("lgp"),
        F.pmod(F.col("l_quantity").cast("bigint"), F.lit(7)).cast("bigint").alias("pm7"),
        F.signum(F.col("l_discount") - 0.05).alias("sg"),
        F.greatest(F.col("l_quantity"), F.col("l_discount") * 100).alias("gr"),
        F.least(F.col("l_quantity"), F.col("l_discount") * 100).alias("le"),
    )


# Higher-order functions over the 64-dim float32 embeddings. All
# arithmetic is forced to DOUBLE on both engines (float32 values are
# exactly representable in double, so double accumulation is
# bit-identical) and rounded 6dp.
_X4_ORACLE = """
SELECT vec_id,
       len(embedding)                                                     AS dim,
       len(list_filter(embedding, x -> x > 0))                            AS n_pos,
       round(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'sum'), 6) AS sum_all,
       round(CAST(list_max(embedding) AS DOUBLE), 6)                      AS max_el,
       round(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                              list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS dot_self,
       len(list_distinct(embedding))                                      AS n_distinct,
       round(CAST(list_sort(embedding)[1] AS DOUBLE), 6)                  AS min_el,
       round(list_aggregate(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE)), 'sum'), 6) AS sum_first8
FROM embeddings
"""


@register("x4_array", _X4_ORACLE)
def x4_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family: size/filter/aggregate/transform/zip_with/
    array_max/array_distinct/sort_array/slice — all higher-order JVM
    expressions (the 100 TB-safe way to touch embeddings)."""
    e = load_tables(spark, sf_dir).embeddings
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(dbl, dbl, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.size(F.filter(F.col("embedding"), lambda x: x > 0)).alias("n_pos"),
        F.round(F.aggregate(dbl, F.lit(0.0), lambda a, x: a + x), 6).alias("sum_all"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_el"),
        F.round(dot, 6).alias("dot_self"),
        F.size(F.array_distinct("embedding")).alias("n_distinct"),
        F.round(F.element_at(F.sort_array("embedding"), 1).cast("double"), 6).alias("min_el"),
        F.round(
            F.aggregate(F.slice(dbl, 1, 8), F.lit(0.0), lambda a, x: a + x), 6
        ).alias("sum_first8"),
    )


# Map built per order status: priority -> order count. Entries sorted
# before map construction so key order (and the joined key string) is
# deterministic on both engines.
_X5_ORACLE = """
WITH counts AS (
  SELECT o_orderstatus, o_orderpriority, count(*) AS n
  FROM orders GROUP BY o_orderstatus, o_orderpriority
),
maps AS (
  SELECT o_orderstatus,
         map_from_entries(list_sort(list(struct_pack(k := o_orderpriority, v := n)))) AS m
  FROM counts GROUP BY o_orderstatus
)
SELECT o_orderstatus,
       array_to_string(map_keys(m), ',')                   AS prio_keys,
       CAST(list_aggregate(map_values(m), 'sum') AS BIGINT) AS total_orders,
       m['1-URGENT'][1]                                    AS n_urgent,
       cardinality(m)                                      AS n_prios
FROM maps
"""


@register("x5_map", _X5_ORACLE)
def x5_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map family: map_from_entries/map_keys/map_values/element_at/
    size over an aggregated priority->count map."""
    o = load_tables(spark, sf_dir).orders
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("n"))
    maps = counts.groupBy("o_orderstatus").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct(F.col("o_orderpriority").alias("k"), F.col("n").alias("v"))))
        ).alias("m")
    )
    return maps.select(
        "o_orderstatus",
        F.array_join(F.map_keys("m"), ",").alias("prio_keys"),
        F.aggregate(F.map_values("m"), F.lit(0).cast("bigint"), lambda a, x: a + x).alias(
            "total_orders"
        ),
        F.element_at(F.col("m"), "1-URGENT").alias("n_urgent"),
        F.size("m").alias("n_prios"),
    )


# events.props is JSON-in-string by fixture design ({"k": <int>}).
_X6_ORACLE = """
SELECT event_id,
       CAST(json_extract(props, '$.k') AS INTEGER)  AS k_path,
       CAST(json_extract(props, '$.k') AS INTEGER)  AS k_typed,
       CAST(json_extract(props, '$.missing') IS NULL AS BOOLEAN) AS missing_is_null
FROM events
WHERE event_id < 2000
"""


@register("x6_json", _X6_ORACLE)
def x6_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON family over events.props: get_json_object (path) and
    from_json (typed struct) must agree; missing paths yield NULL."""
    ev = load_tables(spark, sf_dir).events.filter(F.col("event_id") < 2000)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_path"),
        F.from_json("props", "k INT").getField("k").alias("k_typed"),
        F.get_json_object("props", "$.missing").isNull().alias("missing_is_null"),
    )


# Spark CAST(double AS INT) truncates toward zero; DuckDB CAST rounds
# half-up -> align through trunc() in the oracle.
_X7_ORACLE = """
SELECT l_returnflag,
       count(*)                                                          AS n,
       CAST(sum(CAST(trunc(l_quantity) AS INTEGER)) AS BIGINT)           AS sum_int_qty,
       CAST(sum(CASE WHEN coalesce(nullif(l_discount, 0.0), 0.01) = 0.01 THEN 1 ELSE 0 END) AS BIGINT) AS n_defaulted,
       CAST(sum(CASE WHEN isnan(CAST('NaN' AS DOUBLE) * l_tax) THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
       CAST(sum(CAST(round(CAST(CAST(l_quantity AS VARCHAR) AS DOUBLE) * 100) AS BIGINT)) AS BIGINT)
                                                                         AS roundtrip_qty_cents
FROM lineitem
GROUP BY l_returnflag
"""


@register("x7_cast_coalesce", _X7_ORACLE)
def x7_cast_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Casts + null handling: cast/coalesce/nullif/isnan and a
    string round-trip of a numeric column."""
    li = load_tables(spark, sf_dir).lineitem
    one_if = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast("int")).alias("sum_int_qty"),
        one_if(
            F.coalesce(F.nullif(F.col("l_discount"), F.lit(0.0)), F.lit(0.01)) == 0.01
        ).alias("n_defaulted"),
        one_if(F.isnan(F.lit(float("nan")) * F.col("l_tax"))).alias("n_nan"),
        # per-row cents then exact bigint sum (functions/money.py);
        # the string round-trip being verified stays per-row
        F.sum(
            F.round(F.col("l_quantity").cast("string").cast("double") * 100).cast(
                "bigint"
            )
        ).alias("roundtrip_qty_cents"),
    )


# md5 + sha256 are cross-engine stable; xxhash64/crc32 are exercised in
# tests (Spark-only outputs, no ANSI oracle).
_X8_ORACLE = """
SELECT doc_id,
       md5(lower(text))            AS text_md5,
       sha256(text)                AS text_sha256,
       substring(md5(text), 1, 8)  AS shard_key
FROM documents
WHERE doc_id < 200
"""


@register("x8_hash", _X8_ORACLE)
def x8_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash family (the dedup substrate): md5 / sha2-256 and a derived
    shard key prefix."""
    d = load_tables(spark, sf_dir).documents.filter(F.col("doc_id") < 200)
    return d.select(
        "doc_id",
        F.md5(F.lower("text")).alias("text_md5"),
        F.sha2(F.col("text"), 256).alias("text_sha256"),
        F.substring(F.md5("text"), 1, 8).alias("shard_key"),
    )


# Recursive CTE (Spark 4 WITH RECURSIVE): a monthly ladder spanning the
# order-date domain, LEFT-joined so empty months surface as zeros — the
# reporting shape a bare GROUP BY month cannot produce.
_X9_ORACLE = """
WITH RECURSIVE months(m) AS (
  SELECT TIMESTAMP '1995-01-01'
  UNION ALL
  SELECT m + INTERVAL '1' MONTH FROM months WHERE m < TIMESTAMP '2001-07-01'
)
SELECT m AS month_start,
       count(o_orderkey) AS n_orders,
       round(coalesce(sum(o_totalprice), 0), 2) AS total
FROM months
LEFT JOIN orders ON date_trunc('month', o_orderdate) = m
GROUP BY m
"""


@register("x9_recursive_cte", _X9_ORACLE)
def x9_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE: generated month ladder LEFT-joined to monthly
    order totals.

    The recursion (bounded, 80 iterations) runs standalone — it
    references no table, so no temp view touches the caller's session
    (catalog-neutrality is asserted by test_registry). Scale shape:
    orders pre-aggregate to one row per month FIRST (partial agg
    map-side, ~80 groups), then the tiny aggregate broadcasts to the
    ladder — recursion and join never touch big-table rows.
    """
    t = load_tables(spark, sf_dir)
    months = spark.sql(
        """
        WITH RECURSIVE months(m) AS (
          SELECT TIMESTAMP '1995-01-01'
          UNION ALL
          SELECT m + INTERVAL '1' MONTH FROM months WHERE m < TIMESTAMP '2001-07-01'
        )
        SELECT m FROM months
        """
    )
    monthly = t.orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("om")
    ).agg(F.count("*").alias("n"), F.sum("o_totalprice").alias("s"))
    return (
        months.join(F.broadcast(monthly), months.m == monthly.om, "left")
        .select(
            F.col("m").alias("month_start"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n_orders"),
            F.round(F.coalesce(F.col("s"), F.lit(0)), 2).alias("total"),
        )
    )


# x10 — bitwise surface: scalar shifts/and/or/xor plus the bit_*
# AGGREGATES (fold a column of masks into one mask — feature-flag /
# bitmap-index accounting). Spark names: shiftleft / bit_and agg;
# DuckDB: << and bit_and/bit_or/bit_xor aggregates (same semantics on
# signed 64-bit).
_X10_ORACLE = """
SELECT l_linenumber,
       CAST(count(*) AS BIGINT) AS n,
       bit_and(CAST(l_orderkey AS BIGINT)) AS mask_and,
       bit_or(CAST(l_orderkey AS BIGINT)) AS mask_or,
       bit_xor(CAST(l_orderkey AS BIGINT)) AS mask_xor,
       CAST(min(l_orderkey * 8 + l_linenumber) AS BIGINT) AS min_packed
FROM lineitem
GROUP BY l_linenumber
"""


@register("x10_bitwise", _X10_ORACLE)
def x10_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise family: bit_and/bit_or/bit_xor aggregates over the key
    column plus a shiftleft-packed composite (key*8+line == key<<3 |
    line — the bitmap/flag-mask accounting surface). All codegen'd
    integer ops; the aggregate is a standard two-phase hash agg."""
    li = load_tables(spark, sf_dir).lineitem
    packed = F.shiftleft(F.col("l_orderkey"), 3).bitwiseOR(F.col("l_linenumber"))
    return li.groupBy("l_linenumber").agg(
        F.count("*").cast("bigint").alias("n"),
        F.bit_and(F.col("l_orderkey").cast("bigint")).alias("mask_and"),
        F.bit_or(F.col("l_orderkey").cast("bigint")).alias("mask_or"),
        F.bit_xor(F.col("l_orderkey").cast("bigint")).alias("mask_xor"),
        F.min(packed).cast("bigint").alias("min_packed"),
    )


_X12_ORACLE = """
WITH m AS (
  SELECT o_custkey, CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         count(*) AS n_orders
  FROM orders WHERE o_custkey % 20 = 0 GROUP BY 1, 2
),
span AS (
  SELECT o_custkey, min(month) AS lo, max(month) AS hi FROM m GROUP BY 1
),
cal AS (
  SELECT o_custkey, CAST(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS DATE) AS month
  FROM span
)
SELECT c.o_custkey, c.month, coalesce(m.n_orders, 0) AS n_orders
FROM cal c LEFT JOIN m ON c.o_custkey = m.o_custkey AND c.month = m.month
"""


@register("x12_gapfill", _X12_ORACLE)
def x12_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill: densify each customer's order history to one
    row per month between their first and last order, zero-filling the
    silent months — the prerequisite for correct moving averages,
    ARIMA-style features and "months since last activity" over sparse
    event data (time_bucket_gapfill in TimescaleDB terms, expressed
    with sequence + explode + left join).

    Plan: the per-customer aggregate and span reuse one shuffle on
    o_custkey; `sequence(lo, hi, interval 1 month)` generates the
    calendar INSIDE each row (no driver-side calendar table, no cross
    join against a date dimension), and the fill join is again
    custkey-partitioned — co-partitioned end to end at any scale. The
    %20 key filter bounds the demo output; production drops it. Row
    explosion is bounded by span months per key (~84 here), the
    documented worst case for monotonic skew: one ancient-and-active
    key yields span_months rows, still O(1) per key-month."""
    o = load_tables(spark, sf_dir).orders.filter(F.col("o_custkey") % 20 == 0)
    m = (
        o.select(
            "o_custkey",
            F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
        )
        .groupBy("o_custkey", "month")
        .agg(F.count("*").alias("n_orders"))
    )
    span = m.groupBy("o_custkey").agg(
        F.min("month").alias("lo"), F.max("month").alias("hi")
    )
    cal = span.select(
        "o_custkey",
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 month"))
        ).alias("month"),
    )
    return cal.join(m, ["o_custkey", "month"], "left").select(
        "o_custkey",
        "month",
        F.coalesce("n_orders", F.lit(0)).cast("bigint").alias("n_orders"),
    )


_X13_ORACLE = """
WITH blocked AS (
  SELECT c_custkey, c_name, c_nationkey,
         substr(c_name, greatest(length(c_name) - 1, 1), 2) AS blk
  FROM customer
)
SELECT a.c_nationkey AS nation,
       CAST(count(*) AS BIGINT) AS n_match_pairs,
       CAST(min(levenshtein(a.c_name, b.c_name)) AS BIGINT) AS min_lev,
       CAST(max(levenshtein(a.c_name, b.c_name)) AS BIGINT) AS max_lev
FROM blocked a JOIN blocked b
  ON a.blk = b.blk AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 2
GROUP BY 1
"""


def _deletions_sql(s: str) -> str:
    """SQL array expression: every string obtainable from ``s`` by
    deleting exactly ONE character (empty array for the empty string).
    Pure codegen'd higher-order functions — no Python in the path.
    The empty-string guard matters because Spark's ``sequence(1, 0)``
    infers step -1 and returns [1, 0], not []."""
    return (
        f"CASE WHEN length({s}) < 1 THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE transform(sequence(1, length({s})), "
        f"i -> concat(substring({s}, 1, i - 1), "
        f"substring({s}, i + 1, length({s})))) END"
    )


def deletion_neighborhood(col: str) -> Column:
    """All distinct strings obtainable from ``col`` by deleting AT
    MOST 2 characters — the SymSpell deletion neighborhood D_2.

    Completeness theorem (the reason x13 can use this as a candidate
    generator without changing its exact-match contract): if
    levenshtein(a, b) <= 2 then D_2(a) ∩ D_2(b) != {} — walk an
    optimal edit script; for each substitution delete the substituted
    character from BOTH sides, for each insertion delete the inserted
    character from b, for each deletion delete from a. Each side
    accumulates at most 2 deletions and both reach the same string.
    (Garbe's SymSpell lemma; tests/test_property.py re-proves it by
    random edit scripts against this exact expression.)

    Cost: 1 + L + L·(L-1) strings before dedup for length L — ~330
    for a customer name, collapsing to ~150 after array_distinct.
    Linear per row, codegen'd end to end."""
    d1 = _deletions_sql(col)
    d2 = f"flatten(transform({d1}, t -> {_deletions_sql('t')}))"
    return F.expr(f"array_distinct(concat(array({col}), {d1}, {d2}))")


def fuzzy_name_candidates(names: DataFrame) -> DataFrame:
    """Candidate DISTINCT-name pairs for levenshtein <= 2 within a
    blocking key: explode each name's deletion neighborhood and
    equi-join on (blk, variant). Input columns: (blk, c_name),
    already distinct. Output: (blk, name_a, name_b) with
    name_a < name_b.

    Complete for lev <= 2 (see deletion_neighborhood) and CHEAP where
    the suffix-block pair stream is quadratic: the join key is
    (blk, variant), so two names only meet if they already agree on
    the block AND are within joint deletion distance 4 — candidate
    pairs track the true-match count instead of Σ|block|²
    (tests/test_plans.py pins the >= 10x reduction on a sparse-match
    corpus, d11's bound). The exploded variant relation feeds both
    join sides, so it is materialized once (the d10 lesson —
    unmaterialized, the 100x explode re-runs per side)."""
    from hive_to_es_spark.functions.lifecycle import materialize

    v = materialize(
        names.select(
            "blk", "c_name", F.explode(deletion_neighborhood("c_name")).alias("_var")
        )
    )
    a = v.select("blk", F.col("c_name").alias("name_a"), "_var")
    b = v.select("blk", F.col("c_name").alias("name_b"), "_var")
    return (
        a.join(b, ["blk", "_var"])
        .filter(F.col("name_a") < F.col("name_b"))
        .select("blk", "name_a", "name_b")
        .distinct()
    )


# Above this many DISTINCT names the repartition-pinned block join's
# Σ|block|² pair stream (suffix blocks grow linearly with distinct
# names) gives way to the deletion-neighborhood candidate generator,
# whose candidates track the true-match count. ~50k names with ~100
# suffix blocks ≈ 12M name pairs — the last point where pricing every
# block pair beats pricing candidates.
_X13_BLOCKED_NAME_LIMIT = 50_000


def choose_fuzzy_plan(n_names: int, blocked_name_limit: int = _X13_BLOCKED_NAME_LIMIT) -> str:
    """d4-style auto gate for the x13 name-pair matcher."""
    return "blocked" if n_names <= blocked_name_limit else "symspell"


def fuzzy_name_matches(names: DataFrame, plan: str = "auto") -> DataFrame:
    """Distinct-name pairs with levenshtein <= 2 inside a suffix
    block: (blk, name_a < name_b, lev). Two physical plans under one
    contract (the d4/d9 gate discipline):

    - ``blocked``: equi-join on blk with an explicit
      ``repartition(n, blk)`` pin on BOTH sides. The pin is
      load-bearing: the name relation is byte-tiny, so AQE coalesces
      the blk shuffle to one partition and every levenshtein runs on
      a single core (measured 6.0s -> 1.0s at sf0.1 — the g6
      cogroup pitfall, same fix). Right while Σ|block|² stays small.
    - ``symspell``: fuzzy_name_candidates' deletion-neighborhood
      equi-join prices candidates instead of block pairs — the
      organic-growth path, where blocks grow linearly with distinct
      names and the block pair stream is the inventory's last
      quadratic.

    ``auto`` counts distinct names (one cheap aggregate over an
    already-distinct relation) and gates at _X13_BLOCKED_NAME_LIMIT.
    Both branches end in the same exact levenshtein predicate, so
    they are output-identical (pinned by tests/test_plans.py on the
    fixtures)."""
    if plan == "auto":
        plan = choose_fuzzy_plan(names.count())
    lev = F.levenshtein(F.col("name_a"), F.col("name_b"))
    if plan == "blocked":
        n_part = int(names.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        a = names.select("blk", F.col("c_name").alias("name_a")).repartition(
            n_part, "blk"
        )
        b = names.select("blk", F.col("c_name").alias("name_b")).repartition(
            n_part, "blk"
        )
        pairs = a.join(b, "blk").filter(F.col("name_a") < F.col("name_b"))
    elif plan == "symspell":
        pairs = fuzzy_name_candidates(names)
    else:
        raise ValueError(f"unknown fuzzy plan {plan!r}")
    return pairs.filter(lev <= 2).select("blk", "name_a", "name_b", lev.alias("lev"))


@register("x13_fuzzy_match", _X13_ORACLE)
def x13_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching: near-identical customer names found via
    edit distance <= 2 under a cheap blocking key — the entity-
    resolution primitive (dedupe "Jon Smith"/"John Smith" across
    CRMs). Both engines ship the same Wagner-Fischer levenshtein, so
    the whole match set value-verifies.

    Scale story (round 10 — this op was the inventory's last
    quadratic): edit distance is O(len²) per pair and cannot be
    indexed directly, so the pair stream must be priced before the
    verify. The old plan equi-joined raw customer ROWS on the suffix
    block — Σ|block|² levenshtein pairs over an AQE-serialized
    single-partition shuffle (7.0 s at sf0.1, 73.8 s at 8x where the
    ladder's identical-name copies grow every block k-fold). The
    round-10 plan has three stages, each priced by its own output:

    1. collapse to DISTINCT names — exact duplicates (the bulk of any
       real CRM, and exactly how the scale ladder replicates this
       table) never enter the pair stream; replication changes this
       stage's cost not at all;
    2. fuzzy_name_matches — the gated name-level matcher (repartition-
       pinned block join below 50k distinct names, SymSpell deletion-
       neighborhood candidates above; both end in the same exact
       levenshtein predicate, so the match set is bit-identical to
       the oracle's exhaustive block scan). lev is computed HERE,
       once per matched name pair, never per expanded key pair;
    3. a (c_name)-keyed expansion join back to customer rows emits
       every (k_a < k_b) key pair with the smaller key's nation —
       equal-name groups pair within themselves at lev 0. This stage
       is OUTPUT-sized: the oracle's n_match_pairs counts exactly
       these rows, so no plan can do less work here."""
    base = load_tables(spark, sf_dir).customer.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        # greatest(len-1, 1) in BOTH engines: Spark's substring(s,-2,2)
        # returns '' for 1-char strings while DuckDB substr clips the
        # start — the shared positive-start form cannot diverge
        F.expr("substring(c_name, greatest(length(c_name) - 1, 1), 2)").alias("blk"),
    )
    names = base.select("blk", "c_name").distinct()
    matched = fuzzy_name_matches(names)
    # equal-name pairs: same name => same blk (blk is a function of
    # the name) and lev = 0 — groups with >= 2 keys pair within
    # themselves, no pair matcher needed
    eq = (
        base.groupBy("blk", "c_name")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= 2)
        .select(
            "blk",
            F.col("c_name").alias("name_a"),
            F.col("c_name").alias("name_b"),
            F.lit(0).alias("lev"),
        )
    )
    pairs = matched.unionByName(eq)
    ka = base.select(
        F.col("c_name").alias("name_a"),
        F.col("c_custkey").alias("k_a"),
        F.col("c_nationkey").alias("nat_a"),
    )
    kb = base.select(
        F.col("c_name").alias("name_b"),
        F.col("c_custkey").alias("k_b"),
        F.col("c_nationkey").alias("nat_b"),
    )
    return (
        pairs.join(ka, "name_a")
        .join(kb, "name_b")
        # distinct-name pairs: every key cross-pair counts once (the
        # name order fixed the orientation); equal-name pairs: keep
        # the k_a < k_b half of the self-cross
        .filter((F.col("name_a") < F.col("name_b")) | (F.col("k_a") < F.col("k_b")))
        .groupBy(
            F.when(F.col("k_a") < F.col("k_b"), F.col("nat_a"))
            .otherwise(F.col("nat_b"))
            .alias("nation")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_match_pairs"),
            F.min("lev").cast("bigint").alias("min_lev"),
            F.max("lev").cast("bigint").alias("max_lev"),
        )
    )


# x14 — URL canonicalization + dedup. The fixture documents carry no
# URL column, so one is SYNTHESIZED deterministically per doc (t10's
# synthetic-PII pattern): four surface variants of the same logical
# URL — plain, uppercased host with an explicit default port, utm_*
# tracking params, trailing slash + fragment — all derived from
# doc_id, so docs in the same path class canonicalize to one URL.
# The normalize chain is the standard crawl-dedup recipe: strip
# fragment, lowercase scheme+host, drop :443, drop utm_* params,
# strip the trailing slash. Every step is a codegen'd regexp on both
# engines (patterns held to the Java∩RE2 subset, t10's rule; group
# refs differ — $1 Java, \1 RE2 — so the two SQL dialects are written
# independently and the hash gate proves they agree byte-for-byte).
def surface_url_sql(variant: str, path: str, qid: str) -> str:
    """DuckDB SQL for the 4-variant surface-URL rendering (the x14
    family: clean / uppercase+port / utm-tracking / trailing-slash+
    fragment), parameterized over the variant/path/query-id
    expressions so x14 and p26 render with ONE definition."""
    return f"""CASE {variant}
           WHEN 0 THEN 'https://cdn.example.com/Data/' || ({path})
                       || '?id=' || ({qid})
           WHEN 1 THEN 'HTTPS://CDN.EXAMPLE.COM:443/Data/' || ({path})
                       || '?id=' || ({qid})
           WHEN 2 THEN 'https://cdn.example.com/Data/' || ({path})
                       || '?utm_source=feed&utm_campaign=sync&id=' || ({qid})
           ELSE 'https://cdn.example.com/Data/' || ({path})
                       || '/?id=' || ({qid}) || '#section-2'
         END"""


def url_canon_sql(url: str) -> str:
    """DuckDB SQL for the canonicalization chain (defrag -> lowercase
    scheme+host -> strip :443 -> strip utm params -> collapse '/?') —
    the exact mirror of url_canonicalize below, shared by the x14 and
    p26 oracles."""
    defrag = f"regexp_replace({url}, '#.*$', '')"
    prefix = f"regexp_extract({defrag}, '^[A-Za-z]+://[^/]+')"
    return (
        "regexp_replace(\n           regexp_replace(\n             "
        f"regexp_replace(\n               lower({prefix})\n"
        f"                 || substr({defrag},\n"
        f"                           length({prefix}) + 1),\n"
        "               '^(https://[^/:]+):443/', '\\1/'),\n"
        "             'utm_[a-z]+=[^&#]*&', '', 'g'),\n"
        "           '/\\?', '?')"
    )


_X14_ORACLE = f"""
WITH synth AS (
  SELECT doc_id,
         {surface_url_sql('(doc_id // 200) % 4', 'doc_id % 200', 'doc_id % 200 % 7')} AS url
  FROM documents
),
canon AS (
  SELECT doc_id, url,
         {url_canon_sql('url')} AS canonical_url
  FROM synth
)
SELECT canonical_url,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT url) AS BIGINT) AS n_surface_forms,
       CAST(min(doc_id) AS BIGINT) AS keep_doc
FROM canon
GROUP BY canonical_url
"""


def render_surface_url(variant, path_id, query_id):
    """Spark mirror of surface_url_sql: the 4-variant surface-URL
    rendering column."""
    return (
        F.when(
            variant == 0,
            F.concat(
                F.lit("https://cdn.example.com/Data/"), path_id,
                F.lit("?id="), query_id,
            ),
        )
        .when(
            variant == 1,
            F.concat(
                F.lit("HTTPS://CDN.EXAMPLE.COM:443/Data/"), path_id,
                F.lit("?id="), query_id,
            ),
        )
        .when(
            variant == 2,
            F.concat(
                F.lit("https://cdn.example.com/Data/"), path_id,
                F.lit("?utm_source=feed&utm_campaign=sync&id="), query_id,
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://cdn.example.com/Data/"), path_id,
                F.lit("/?id="), query_id, F.lit("#section-2"),
            )
        )
    )


def url_canonicalize(url):
    """Spark mirror of url_canon_sql: the scan-side canonicalization
    regexp chain (codegen'd, no Python)."""
    defrag = F.regexp_replace(url, "#.*$", "")
    prefix = F.regexp_extract(defrag, "^[A-Za-z]+://[^/]+", 0)
    lowered = F.concat(
        F.lower(prefix),
        F.substring(defrag, F.length(prefix) + 1, F.lit(1_000_000)),
    )
    no_port = F.regexp_replace(lowered, "^(https://[^/:]+):443/", "$1/")
    no_utm = F.regexp_replace(no_port, "utm_[a-z]+=[^&#]*&", "")
    return F.regexp_replace(no_utm, "/\\?", "?")


@register("x14_url_normalize", _X14_ORACLE)
def x14_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + canonical-URL dedup — the crawl-corpus
    primitive (CommonCrawl-style pipelines dedup by canonical URL
    before any content hash): normalize scheme/host case, strip the
    default port, tracking params (utm_*), fragments and trailing
    slashes, then group by the canonical form keeping the min doc_id.

    Pure scan-side regexp chain (codegen'd, no Python) + one hash
    aggregate on the canonical string — the same linear shape as d1
    with a richer key function. The synthesized variants guarantee
    the gate is non-vacuous: every canonical group collapses ~4
    surface forms (asserted via n_surface_forms in the output)."""
    d = load_tables(spark, sf_dir).documents
    pid = F.col("doc_id") % 200
    qid = pid % 7
    # variant selector must vary WITHIN a path class: doc_id % 4 is
    # fully determined by doc_id % 200 (200 ≡ 0 mod 4), which would
    # give every canonical group exactly ONE surface form and make
    # the whole normalization vacuous — (doc_id DIV 200) % 4 walks
    # the variants as doc_id steps through the same class
    variant = F.expr("(doc_id DIV 200) % 4")
    url = render_surface_url(variant, pid, qid)
    canonical = url_canonicalize(url)
    return (
        d.select(F.col("doc_id"), url.alias("url"), canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("url").alias("n_surface_forms"),
            F.min("doc_id").cast("bigint").alias("keep_doc"),
        )
    )


# ---------------------------------------------------------------------------
# x15: domain PageRank — the canonical link-graph quality prior of web
# corpus curation (Page et al. 1999; used by Common-Crawl-derived
# pipelines to weight/filter domains before document-level gates).
# Complements the graph ladder: d7/d9/d12 CLOSE components (reach-
# ability), x15 runs a weighted fixed-point ON the graph (influence).
# Five damped iterations (d = 0.85), dangling mass redistributed
# uniformly — the standard formulation, cut to a fixed round budget so
# the oracle can unroll it as chained CTEs (t16's discipline).
#
# Fixture note (t21/t10 rendering precedent): documents carries no
# link column, so the edge list is RENDERED deterministically and
# mirrored in the oracle: each doc contributes one link
# src = doc_id % 64 -> dst = md5-bucket(doc_id) % 64 (the o4 idiom —
# the md5 side depends on the FULL doc_id, not just its residue, so
# in-degrees vary and the stationary ranks are non-uniform;
# self-loops dropped).
#
# Integer-exact cross-engine arithmetic (the money.py discipline —
# no float sums to drift): ranks live in parts-per-billion, edge
# weights are pre-normalized to wppm = w * 1e6 DIV out_weight <= 1e6
# ONCE (so the per-iteration product r * wppm <= 1e9 * 1e6 = 1e15
# cannot overflow bigint AT ANY CORPUS SIZE — normalizing per
# iteration instead would put the raw count w in the product and wrap
# at web-scale edge weights), per-edge contribution
# r * wppm DIV 1e6, update r' = (1e9 - d_ppb) DIV N
# + 850 * (contrib + dang DIV N) DIV 1000. Floor-division mass leak
# is deterministic and identical in both engines.
#
# Scale shape (100 TB): the corpus is touched ONCE — the (src, dst)
# edge census is one map-combinable groupBy; everything after runs on
# |domains|-bounded tables (edges, out-weights, ranks), so five
# iterations cost five domain-keyed shuffle joins of ~1e7-row tables,
# independent of corpus row count. The edge table is materialized
# once (lifecycle.materialize localCheckpoint; pass a checkpoint_dir
# for the reliable-storage tier on a real cluster) because every
# iteration joins it — without that the corpus census would re-execute
# per reference, exactly the d7 lesson. N (node count) is the one
# driver-side scalar: a bounded 1-row collect, the documented class.
_X15_DOMAINS = 64
_X15_ITERS = 5
_X15_DAMP_PPK = 850  # damping in parts-per-thousand


def _x15_iteration_sql(i: int) -> str:
    """One unrolled PageRank round as oracle CTEs (t16's generated-
    chain discipline — constants shared with the Spark side)."""
    return f"""
c{i} AS (
  SELECT e.dst AS v, CAST(sum(r{i - 1}.r * e.wppm // 1000000) AS BIGINT) AS c
  FROM e JOIN r{i - 1} ON e.src = r{i - 1}.v GROUP BY e.dst
),
d{i} AS (
  SELECT CAST(coalesce(sum(CASE WHEN NOT has_out THEN r END), 0) AS BIGINT)
         AS dang
  FROM r{i - 1}
),
r{i} AS (
  SELECT r{i - 1}.v, r{i - 1}.has_out,
         CAST((1000000000 - {_X15_DAMP_PPK} * 1000000) // n
              + {_X15_DAMP_PPK} * (coalesce(c{i}.c, 0) + d{i}.dang // n)
                // 1000 AS BIGINT) AS r
  FROM r{i - 1} LEFT JOIN c{i} ON r{i - 1}.v = c{i}.v, nn, d{i}
)"""


_X15_ORACLE = (
    f"""
WITH e0 AS (
  SELECT doc_id % {_X15_DOMAINS} AS src,
         {md5_60_sql("doc_id")} % {_X15_DOMAINS} AS dst
  FROM documents
),
ew AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS w
  FROM e0 WHERE src <> dst GROUP BY src, dst
),
ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM ew GROUP BY src),
e AS (
  SELECT ew.src, ew.dst, ew.w * 1000000 // ow.ow AS wppm
  FROM ew JOIN ow USING (src)
),
nodes AS (
  SELECT DISTINCT v
  FROM (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
r0 AS (
  SELECT nodes.v, ow.src IS NOT NULL AS has_out,
         CAST(1000000000 // n AS BIGINT) AS r
  FROM nodes LEFT JOIN ow ON nodes.v = ow.src, nn
),"""
    + ",".join(_x15_iteration_sql(i) for i in range(1, _X15_ITERS + 1))
    + f"""
SELECT v AS domain, r AS rank_ppb FROM r{_X15_ITERS}
"""
)


def pagerank(
    edges: DataFrame,
    iterations: int = _X15_ITERS,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Integer-ppb damped PageRank over an (src, dst, w) weighted edge
    DataFrame (see block comment for the exact update rule). Returns
    (v, has_out, r) — rank in parts-per-billion after `iterations`
    damped rounds. Self-loops must already be dropped; parallel edges
    should be pre-aggregated into w.

    Loop discipline (graph.py's): every round's rank table is
    materialized eagerly and the previous round released — each round
    references its predecessor three times (contribution join,
    dangling-mass aggregate, node carry), so an unbroken lazy chain
    re-instantiates round r-k's subtree 3^k times; harmless on a
    64-domain fixture, a real shuffle storm on a 1e7-domain web
    graph."""
    from hive_to_es_spark.functions.lifecycle import (
        materialize,
        release_checkpoint,
    )

    ow = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("ow"))
    e = materialize(
        edges.join(ow, "src").select(
            "src", "dst", F.expr("w * 1000000 DIV ow").alias("wppm")
        ),
        checkpoint_dir,
    )
    nodes = (
        e.select(F.col("src").alias("v"))
        .unionAll(e.select(F.col("dst").alias("v")))
        .distinct()
    )
    out_srcs = e.select("src").distinct()
    n = nodes.count()  # bounded |domains|-scalar (1-row collect class)
    ranks = nodes.join(out_srcs, nodes.v == out_srcs.src, "left").select(
        "v",
        F.col("src").isNotNull().alias("has_out"),
        F.lit(1_000_000_000 // n).cast("bigint").alias("r"),
    )
    base = (1_000_000_000 - _X15_DAMP_PPK * 1_000_000) // n
    prev = None  # previous round's checkpoint, released once superseded
    for _ in range(iterations):
        contrib = (
            e.join(ranks.select(F.col("v").alias("src"), "r"), "src")
            .groupBy("dst")
            .agg(F.sum(F.expr("r * wppm DIV 1000000")).cast("bigint").alias("c"))
        )
        dang = ranks.agg(
            F.coalesce(
                F.sum(F.when(~F.col("has_out"), F.col("r"))), F.lit(0)
            )
            .cast("bigint")
            .alias("dang")
        )
        ranks = materialize(
            ranks.select("v", "has_out")
            .join(contrib, F.col("v") == contrib.dst, "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "v",
                "has_out",
                F.expr(
                    f"CAST({base} + {_X15_DAMP_PPK} * (coalesce(c, 0)"
                    f" + dang DIV {n}) DIV 1000 AS BIGINT)"
                ).alias("r"),
            ),
            checkpoint_dir,
        )
        if prev is not None:
            release_checkpoint(prev)
        prev = ranks
    if prev is not None:
        # The returned frame reads only the FINAL round's checkpoint —
        # the edge table is dead now (graph.py's convergence release).
        # (iterations=0 returns the initial ranks, which still READ e.)
        release_checkpoint(e)
    return ranks


@register("x15_domain_pagerank", _X15_ORACLE)
def x15_domain_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain PageRank (see block comment): 5 damped integer-ppb
    iterations over the deterministically rendered 64-domain link
    graph, dangling mass redistributed uniformly. The corpus is read
    once (edge census); every iteration runs on the |domains|-bounded
    edge/rank tables."""
    d = load_tables(spark, sf_dir).documents

    edges = (
        d.select(
            (F.col("doc_id") % _X15_DOMAINS).alias("src"),
            hash_bucket("doc_id", _X15_DOMAINS).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").cast("bigint").alias("w"))
    )
    return pagerank(edges).select(
        F.col("v").alias("domain"), F.col("r").alias("rank_ppb")
    )
