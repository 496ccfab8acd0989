"""Window-function operators (SURVEY.md §2.B "Window functions", w1-w7).

Windows shuffle once on the partition key, then sort within each
partition — at 100 TB the cost profile is one exchange + per-partition
sort, the same as a sort-merge join side. Partition keys here are
high-cardinality (o_custkey) or low-count-but-huge (l_returnflag,
where the per-partition sort dominates and spills via
UnsafeExternalSorter); neither collects to the driver.

Gotchas baked in (FIXTURES.md "Cross-engine gotchas"):
- Spark SQL has no QUALIFY — window output filtered via a subquery
  (DataFrame: filter after the projection).
- Every ORDER BY inside a window carries a unique tiebreaker
  (o_orderkey / l_linenumber) so rank/ntile/cume_dist are
  deterministic cross-engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_to_es_spark.functions.money import cents
from hive_to_es_spark.io import load_tables
from hive_to_es_spark.registry import register

# Per-customer ordering used by w2/w3/w6: orderdate then key (unique).
# A function, not a module constant: Window specs need an active
# session, which does not exist at import time.
def _by_cust_date() -> Window:
    return Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )

_W1_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice, rnk
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         rank() OVER (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
  FROM orders
)
WHERE rnk <= 3
"""


@register("w1_order_rank", _W1_ORACLE)
def w1_order_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by price — flagship (BASELINE.md row 4).

    rank() over a unique total order (price desc, key asc), then the
    no-QUALIFY subquery filter.
    """
    o = load_tables(spark, sf_dir).orders
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice", F.rank().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 3)
    )


_W2_ORACLE = """
SELECT o_custkey, o_orderkey,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS running_total_cents
FROM orders
"""


@register("w2_running_sum", _W2_ORACLE)
def w2_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-customer total — ROWS unbounded-preceding frame."""
    o = load_tables(spark, sf_dir).orders
    w = _by_cust_date().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(cents("o_totalprice")).over(w).alias("running_total_cents"),
    )


_W3_ORACLE = """
SELECT o_custkey, o_orderkey,
       lag(o_totalprice, 1) OVER w  AS prev_price,
       lead(o_totalprice, 1) OVER w AS next_price,
       round(o_totalprice - lag(o_totalprice, 1) OVER w, 2) AS delta_prev
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
"""


@register("w3_lag_lead", _W3_ORACLE)
def w3_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead analytics with NULL edges per partition."""
    o = load_tables(spark, sf_dir).orders
    w = _by_cust_date()
    prev = F.lag("o_totalprice", 1).over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        prev.alias("prev_price"),
        F.lead("o_totalprice", 1).over(w).alias("next_price"),
        F.round(F.col("o_totalprice") - prev, 2).alias("delta_prev"),
    )


# RANGE frame over a numeric order key: the frame covers value range
# [l_quantity - 1, l_quantity], peers included — deterministic under
# ties by construction (no tiebreaker needed for RANGE).
_W4_ORACLE = """
SELECT l_orderkey, l_linenumber, l_quantity,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) OVER (
         PARTITION BY l_returnflag ORDER BY l_quantity
         RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS range_sum_cents
FROM lineitem
"""


# Default ceiling on distinct (partition, order) pairs for w4's
# broadcast rewrite: 100k pairs ≈ a few MB broadcast (well under the
# 10 MB autoBroadcast default), measured from the approx-distinct scan
# below. Above it the aggregate itself is no longer a "tiny" table and
# a distributed plan (bucketed window, or the plain partitioned RANGE
# window when the partition key alone supplies enough parallelism) is
# the right choice.
RANGE_BROADCAST_LIMIT = 100_000


def range_bucket_count(parallelism: int, n_parts: int) -> int:
    """Buckets per partition key for the bucketed RANGE plan: enough
    that n_parts × buckets ≈ 4× cluster parallelism (4 waves absorb
    per-bucket skew), never fewer than 2 (1 bucket would be the plain
    window with extra donor rows)."""
    return max(2, -(-4 * parallelism // max(1, n_parts)))


def choose_range_plan(
    n_pairs: int, n_parts: int, parallelism: int, broadcast_distinct_limit: int
) -> str:
    """Pure gate decision for range_frame_sum's auto mode, factored
    out so the branch logic is unit-testable at SYNTHETIC parallelism
    (a <=3-core runner legitimately picks the plain window on the w8
    shape — the plan-shape test can't assert 'bucketed' there, but
    this function's behavior at parallelism=32 still can be)."""
    if n_pairs <= broadcast_distinct_limit:
        return "broadcast"
    return "window" if n_parts >= parallelism else "bucketed"


def _bucketed_range_frame(
    li: DataFrame,
    part_col: str,
    order_col: str,
    sum_col: str,
    delta,
    n_buckets: int,
) -> DataFrame:
    """Distributed RANGE frame with EXACT semantics and parallelism
    n_parts × n_buckets — the escape hatch for the low-partition-
    cardinality + continuous-order-key shape where both other plans
    hit a ceiling (broadcast: pair count too high; plain window:
    parallelism = partition-key cardinality, e.g. 3 tasks sorting the
    whole fact table regardless of cluster size).

    Plan: split each partition key's order range into arithmetic
    buckets of width >= delta, so any row's frame [v-delta, v] spans
    at most its own bucket and the one before. Each row is shuffled to
    its own bucket, plus a "donor" copy to the NEXT bucket iff it sits
    within delta of the bucket's upper edge (the only rows the next
    bucket's frames can reach). The ordinary RANGE window then runs
    per (partition key, bucket) — many small sorted runs instead of
    one giant one — and donor rows contribute to sums but are dropped
    from the output. No approximation: values equal the single-window
    plan bit for bit, so the DuckDB oracle is the unchanged RANGE SQL.

    Cost: one extra tiny min/max scan (driver state = 2 doubles), and
    the shuffle carries <= (1 + delta/width) × rows; the fact table is
    scanned ONCE (the donor copy comes from a 2-element explode, not a
    second scan — at 100 TB the union-of-two-scans form would double
    the IO). Skew note: equal order values always land in one bucket
    (peers stay together), so a single hyper-frequent value caps one
    bucket's size — that is the RANGE-peer semantics' irreducible
    skew, same as the plain window.
    """
    lo, hi = li.agg(
        F.min(F.col(order_col).cast("double")), F.max(F.col(order_col).cast("double"))
    ).first()
    if lo is None:  # empty input: any single-branch plan is fine
        lo, hi = 0.0, 0.0
    width = max(float(delta), (hi - lo) / n_buckets) or 1.0
    v = F.col(order_col).cast("double") - F.lit(lo)
    bkt = F.floor(v / F.lit(width))
    # Donor test runs in shifted doubles while the per-bucket window's
    # RANGE arithmetic runs on the original column values; widen the
    # edge by one part in 1e12 of delta so a half-ulp disagreement at
    # an exact frame boundary can only ADD a donor row, never drop one.
    # Extra donors are harmless: the in-bucket RANGE frame re-applies
    # the exact predicate on the original values, and donors are
    # filtered from the output — so the slack trades a few shuffled
    # rows for a closed correctness argument. Exactness is guaranteed
    # for order keys losslessly representable as doubles (ints, dates,
    # float32/64); wider decimals should pre-cast or use plan="window".
    slack = float(delta) * 1e-12 + 1e-9
    near_upper_edge = v >= (bkt + 1) * F.lit(width) - F.lit(float(delta) + slack)
    w_expr = (
        f"sum(CAST(round({sum_col} * 100) AS BIGINT)) "
        f"OVER (PARTITION BY {part_col}, _bkt "
        f"ORDER BY {order_col} RANGE BETWEEN {delta} PRECEDING "
        f"AND CURRENT ROW)"
    )
    return (
        li.select(
            "*", F.explode(F.array(F.lit(0), F.lit(1))).alias("_donor")
        )
        .filter((F.col("_donor") == 0) | near_upper_edge)
        .withColumn("_bkt", bkt + F.col("_donor"))
        .select(
            "l_orderkey",
            "l_linenumber",
            order_col,
            "_donor",
            F.expr(w_expr).alias("range_sum_cents"),
        )
        .filter(F.col("_donor") == 0)
        .drop("_donor")
    )


def range_frame_sum(
    li: DataFrame,
    part_col: str,
    order_col: str,
    sum_col: str,
    delta,
    broadcast_distinct_limit: int = RANGE_BROADCAST_LIMIT,
    plan: str = "auto",
) -> DataFrame:
    """RANGE BETWEEN `delta` PRECEDING AND CURRENT ROW sum of
    `sum_col`, partitioned by `part_col`, ordered by `order_col` —
    with a cardinality-gated choice among three physical plans.

    A RANGE frame's value depends only on (partition key, order
    value), so when the distinct pair count is broadcastable the fact
    table never needs to be shuffled or windowed at all: aggregate
    `sum_col` per pair (map-side partial agg), compute each distinct
    value's frame sum with a range self-join ON THE TINY AGGREGATE,
    and broadcast the result back. That sidesteps the structural
    ceiling of a low-cardinality partition key (l_returnflag has 3
    values -> the naive window caps at 3 tasks no matter the cluster).

    The gate: one approx_count_distinct scan (no shuffle — HLL partial
    agg; driver state = two longs). Above `broadcast_distinct_limit`
    (continuous keys — prices, timestamps) the aggregate is no longer
    tiny, and the choice is between two distributed plans:

    - partition-key cardinality >= cluster parallelism: the plain
      partitioned RANGE window — one shuffle, per-key sorted runs,
      already parallel enough;
    - partition-key cardinality BELOW parallelism (the w7 shape): the
      bucketed-donor plan (_bucketed_range_frame) — exact semantics,
      parallelism n_parts × n_buckets instead of n_parts.

    `plan` pins a branch for testing: "broadcast" | "window" |
    "bucketed" | "auto" (measure and choose). Measured at sf0.1 the
    broadcast/window forms compute in ~40ms — w4's ~2s bench entry is
    600k-row result transfer, not compute.
    """
    parallelism = li.sparkSession.sparkContext.defaultParallelism
    n_parts = None
    if plan == "auto":
        cards = li.agg(
            F.approx_count_distinct(F.struct(part_col, order_col)).alias("np"),
            F.approx_count_distinct(part_col).alias("nk"),
        ).first()
        n_pairs, n_parts = cards["np"], cards["nk"]
        plan = choose_range_plan(
            n_pairs, n_parts, parallelism, broadcast_distinct_limit
        )
    if plan == "bucketed":
        if n_parts is None:
            n_parts = li.agg(F.approx_count_distinct(part_col).alias("nk")).first()["nk"]
        return _bucketed_range_frame(
            li, part_col, order_col, sum_col, delta,
            range_bucket_count(parallelism, n_parts),
        )
    if plan == "window":
        w_expr = (
            f"sum(CAST(round({sum_col} * 100) AS BIGINT)) "
            f"OVER (PARTITION BY {part_col} "
            f"ORDER BY {order_col} RANGE BETWEEN {delta} PRECEDING "
            f"AND CURRENT ROW)"
        )
        return li.select(
            "l_orderkey", "l_linenumber", order_col, F.expr(w_expr).alias("range_sum_cents")
        )
    assert plan == "broadcast", f"unknown range_frame_sum plan {plan!r}"
    g = li.groupBy(part_col, order_col).agg(F.sum(cents(sum_col)).alias("_s"))
    a = g.select(F.col(part_col).alias("_p"), F.col(order_col).alias("_q"))
    b = g.select(
        F.col(part_col).alias("_bp"),
        F.col(order_col).alias("_bq"),
        F.col("_s").alias("_bs"),
    )
    # NULL semantics must match the window branches (the three plans
    # are oracled as ONE semantics): a NULL partition key is a real
    # partition (eqNullSafe, not =), and NULL order values form their
    # own peer group whose frame is exactly that group — the range
    # arithmetic never matches NULLs, so they get an explicit
    # both-NULL clause instead of silently dropping out of the join.
    frame_sums = (
        a.join(
            b,
            F.col("_p").eqNullSafe(F.col("_bp"))
            & (
                (
                    (F.col("_bq") >= F.col("_q") - delta)
                    & (F.col("_bq") <= F.col("_q"))
                )
                | (F.col("_q").isNull() & F.col("_bq").isNull())
            ),
        )
        .groupBy("_p", "_q")
        .agg(F.sum("_bs").alias("_range_sum"))
    )
    return (
        li.join(
            F.broadcast(frame_sums),
            li[part_col].eqNullSafe(F.col("_p"))
            & li[order_col].eqNullSafe(F.col("_q")),
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            order_col,
            F.col("_range_sum").cast("bigint").alias("range_sum_cents"),
        )
    )


@register("w4_range_frame", _W4_ORACLE)
def w4_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE BETWEEN value-based frame aggregation over a DISCRETE
    order key (~150 distinct (flag, quantity) pairs) — takes
    range_frame_sum's broadcast-rewrite path; see that docstring for
    the plan and the cardinality gate."""
    li = load_tables(spark, sf_dir).lineitem
    return range_frame_sum(li, "l_returnflag", "l_quantity", "l_extendedprice", 1)


_W7_ORACLE = """
SELECT l_orderkey, l_linenumber, l_extendedprice,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) OVER (
         PARTITION BY l_returnflag ORDER BY l_extendedprice
         RANGE BETWEEN 100.0 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS range_sum_cents
FROM lineitem
"""


@register("w7_range_frame_highcard", _W7_ORACLE, deprecated=True)
def w7_range_frame_highcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEPRECATED verification pin — do NOT call at scale; use w8 (or
    range_frame_sum's default auto gate, the only supported entry).

    This key pins range_frame_sum's plain-window branch (plan="window")
    on the continuous-order-key shape so that branch stays
    value-verified at every test scale: its parallelism equals the
    partition-key cardinality (3 tasks here, regardless of cluster
    size), which is the documented scale ceiling the auto gate exists
    to route around — on this exact shape the gate picks the
    bucketed-donor plan (w8: same oracle, same values, n_parts x
    n_buckets tasks). Registry exposure is solely so the pinned branch
    keeps a CHECK hash row next to its replacement."""
    li = load_tables(spark, sf_dir).lineitem
    return range_frame_sum(
        li,
        "l_returnflag",
        "l_extendedprice",
        "l_extendedprice",
        100.0,
        plan="window",
    )


@register("w8_range_frame_scalable", _W7_ORACLE)
def w8_range_frame_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """w7's exact shape (continuous order key, 3-value partition key)
    through range_frame_sum's AUTO gate, which measures ~57k pairs >
    the 1000 limit and 3 partition keys < cluster parallelism and
    picks the bucketed-donor plan — identical values to w7 (same
    DuckDB oracle, unchanged RANGE SQL) with n_parts × n_buckets task
    parallelism instead of 3. This is the branch that survives 100 TB
    on the low-partition-cardinality shape."""
    li = load_tables(spark, sf_dir).lineitem
    return range_frame_sum(
        li,
        "l_returnflag",
        "l_extendedprice",
        "l_extendedprice",
        100.0,
        broadcast_distinct_limit=1000,
    )


_W5_ORACLE = """
SELECT o_orderkey, o_orderstatus,
       ntile(4)       OVER w AS price_quartile,
       round(cume_dist()    OVER w, 6) AS cume,
       round(percent_rank() OVER w, 6) AS pct_rank
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice ASC, o_orderkey ASC)
"""


@register("w5_ntile_cume", _W5_ORACLE)
def w5_ntile_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / cume_dist / percent_rank — deterministic because the
    window order (price, key) is a unique total order."""
    o = load_tables(spark, sf_dir).orders
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).alias("price_quartile"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


_W6_ORACLE = """
SELECT o_custkey, o_orderkey,
       first_value(o_totalprice) OVER w AS first_price,
       last_value(o_totalprice)  OVER w AS last_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


@register("w6_first_last", _W6_ORACLE)
def w6_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value/last_value over the full-partition frame (the
    default growing frame would make last_value = current row)."""
    o = load_tables(spark, sf_dir).orders
    w = _by_cust_date().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("last_price"),
    )


# Batch sessionization: the classic lag-gap-cumsum idiom. All time
# math on integer epoch-microseconds; session duration is an exact
# BIGINT, so the whole result value-hashes cross-engine. (e3 is the
# streaming twin via session_window — this is the backfill/batch form
# every clickstream warehouse also needs.)
_W9_GAP_US = 12 * 3600 * 1_000_000  # 12 h inactivity gap (fixture events
# are sparse per user — mean inter-event gap ~9 h; 12 h yields a real
# mix of multi-event sessions and splits)

_W9_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS tus FROM events
  WHERE ts IS NOT NULL
),
g AS (
  SELECT user_id, event_id, tus,
         CASE WHEN lag(tus) OVER w IS NULL
                OR tus - lag(tus) OVER w > {_W9_GAP_US} THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
),
s AS (
  SELECT user_id, tus,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM g
)
SELECT user_id, session_id,
       count(*) AS n_events,
       max(tus) - min(tus) AS duration_us
FROM s GROUP BY user_id, session_id
"""


@register("w9_sessionize", _W9_ORACLE)
def w9_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a new session starts after >12 h of
    user inactivity; emit per-session event counts and exact duration.

    The idiom is two stacked windows on the same (user_id, ts) sort:
    lag() marks session starts, a running sum over the marks numbers
    the sessions — Spark plans BOTH over one exchange + one sort
    (the window specs share partitioning and ordering), then the
    final groupBy reuses the same hash partitioning. One shuffle
    total at any scale; per-user state never materializes anywhere.
    Timestamps become integer epoch-micros up front so gap compare,
    session numbering and duration are exact integer ops (no float
    drift cross-engine)."""
    # ts IS NOT NULL on both sides: Spark asc sorts NULLS FIRST,
    # DuckDB defaults nulls_last — unfiltered NULL timestamps would
    # session-number the two engines differently (g6 carries the same
    # guard for the same reason)
    ev = (
        load_tables(spark, sf_dir)
        .events.filter(F.col("ts").isNotNull())
        .select("user_id", "event_id", F.unix_micros("ts").alias("tus"))
    )
    w = Window.partitionBy("user_id").orderBy(F.col("tus").asc(), F.col("event_id").asc())
    gap = F.col("tus") - F.lag("tus").over(w)
    new_s = F.when(gap.isNull() | (gap > _W9_GAP_US), 1).otherwise(0)
    sessions = ev.withColumn(
        "session_id",
        F.sum(new_s).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        (F.max("tus") - F.min("tus")).alias("duration_us"),
    )


# w10 — cumulative distinct customers by month (the MAU-growth query).
# The naive form — count(DISTINCT key) OVER (ORDER BY month) — is
# either unsupported (Spark refuses DISTINCT in windows) or O(months x
# keys) state in engines that allow it. The scalable identity: a key
# contributes to the cumulative count exactly once, at its FIRST
# bucket — so cumulative distinct = running sum of first-appearance
# counts. Orders (not events) because o_orderdate spans 7 years, so
# first appearances actually spread across ~80 buckets; the fixture
# events all start in week 1. month is emitted as DATE on both
# engines (timestamp subtypes differ: NTZ vs ns).
_W10_ORACLE = """
WITH firsts AS (
  SELECT o_custkey, CAST(date_trunc('month', min(o_orderdate)) AS DATE) AS month
  FROM orders WHERE o_orderdate IS NOT NULL
  GROUP BY o_custkey
),
monthly AS (
  SELECT month, CAST(count(*) AS BIGINT) AS new_custs
  FROM firsts GROUP BY month
)
SELECT month, new_custs,
       CAST(sum(new_custs) OVER (ORDER BY month
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_custs
FROM monthly
"""


@register("w10_cumulative_distinct", _W10_ORACLE)
def w10_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct customers by month — the growth-accounting
    query (monthly new + all-time-to-date uniques) that tempts
    everyone into count(DISTINCT) over an expanding window.

    Plan: one shuffle on the key (min-date agg: each customer's FIRST
    month), a partial-combined month agg (|months| rows), then the
    running sum over an unpartitioned window — safe ONLY because its
    input is already reduced to |months| rows, never the fact table
    (the same tiny-input justification as a19's mode window). At
    100 TB: the key agg is the only data-sized stage and it is a
    map-side-combinable two-phase hash aggregate; cumulative state
    never exists anywhere — the identity "cumulative distinct =
    running sum of first appearances" removes it algebraically."""
    o = load_tables(spark, sf_dir).orders.filter(F.col("o_orderdate").isNotNull())
    firsts = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).cast("date").alias("month")
    )
    monthly = firsts.groupBy("month").agg(F.count("*").alias("new_custs"))
    w = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return monthly.select(
        "month",
        "new_custs",
        F.sum("new_custs").over(w).cast("bigint").alias("cum_custs"),
    )


# w11 — event-type transition matrix: counts of (previous -> current)
# event-type pairs per user ordering, the sequence-feature extraction
# behavioral pipelines run before Markov/session modeling. lag() over
# (user, ts, event_id) then a global pair count; 'START' marks each
# user's first event so entry probabilities are derivable too.
_W11_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         coalesce(lag(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id), 'START') AS prev_type
  FROM events WHERE ts IS NOT NULL
)
SELECT prev_type, event_type AS curr_type, CAST(count(*) AS BIGINT) AS n
FROM seq GROUP BY prev_type, event_type
"""


@register("w11_transition_matrix", _W11_ORACLE)
def w11_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (prev -> curr counts): the
    sequence-feature / Markov-chain input every behavioral-analytics
    pipeline derives from ordered clickstreams.

    One shuffle on user_id for the lag window (linear per partition),
    then a partial-combined count over the tiny (type x type) key
    space — the aggregate output is |types|² rows no matter the data
    size. NULL-ts filter mirrored on both engines (the w9/j15 NULLS
    FIRST divergence); ties at equal ts break on event_id so the
    lag sequence is engine-identical."""
    ev = load_tables(spark, sf_dir).events.filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    seq = ev.select(
        "event_type",
        F.coalesce(F.lag("event_type").over(w), F.lit("START")).alias("prev_type"),
    )
    return (
        seq.groupBy("prev_type", F.col("event_type").alias("curr_type"))
        .agg(F.count("*").alias("n"))
    )


_W12_WEIGHTS = [128, 64, 32, 16, 8, 4, 2, 1]  # 2^(7-j) for lag j = 0..7

_W12_ORACLE = """
WITH o AS (
  SELECT o_custkey, o_orderkey, o_orderdate,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
  WHERE o_orderdate IS NOT NULL
)
SELECT o_custkey, o_orderkey,
       CAST({terms} AS BIGINT) AS ewma_x128
FROM o
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
""".format(
    terms=" + ".join(
        f"coalesce(lag(cents, {j}) OVER w, 0) * {wt}"
        for j, wt in enumerate(_W12_WEIGHTS)
    )
)


@register("w12_ewma_decay", _W12_ORACLE)
def w12_ewma_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-decayed moving average of per-customer order
    value: lambda = 1/2 over the last 8 orders, reported as an exact
    integer ewma_x128 = sum_{j=0..7} cents_{n-j} * 2^(7-j).

    The decay kernel is a fixed 8-tap FIR, so the whole computation is
    eight lag() reads over ONE shared window sort — a single
    o_custkey shuffle, then linear per partition; the key is
    high-cardinality so no w7-style task ceiling. Choosing lambda a
    power of two and pre-scaling by 2^7 keeps every term (and the
    sum) a bigint: no float accumulation, so Spark and DuckDB agree
    bit-for-bit where a real-valued EWMA would drift (the same
    integer-money rule as p17/a20). A true infinite-horizon EWMA
    needs a recursive state fold — at scale that is the
    applyInPandasWithState shape (e7); the truncated-kernel form here
    is the one that stays in whole-stage codegen."""
    o = (
        load_tables(spark, sf_dir)
        .orders.filter(F.col("o_orderdate").isNotNull())
        .withColumn("cents", F.round(F.col("o_totalprice") * 100).cast("bigint"))
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    ewma = None
    for j, wt in enumerate(_W12_WEIGHTS):
        term = F.coalesce(F.lag("cents", j).over(w), F.lit(0)) * F.lit(wt)
        ewma = term if ewma is None else ewma + term
    return o.select(
        "o_custkey", "o_orderkey", ewma.cast("bigint").alias("ewma_x128")
    )



# w13 — attribution windows: a click converts a view seen within 4 h;
# a purchase converts a qualified click within 24 h.
_W13_VIEW_US = 4 * 3600 * 1_000_000
_W13_CLICK_US = 24 * 3600 * 1_000_000

_W13_ORACLE = """
WITH ev AS (
  SELECT user_id, ts, event_type FROM events WHERE ts IS NOT NULL
),
f1 AS (
  SELECT *, max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER (
    PARTITION BY user_id ORDER BY ts
    RANGE BETWEEN INTERVAL 4 HOUR PRECEDING AND CURRENT ROW) AS has_view
  FROM ev
),
f2 AS (
  SELECT *, CASE WHEN event_type = 'click' AND has_view = 1
                 THEN 1 ELSE 0 END AS qc
  FROM f1
),
f3 AS (
  SELECT *, max(qc) OVER (
    PARTITION BY user_id ORDER BY ts
    RANGE BETWEEN INTERVAL 24 HOUR PRECEDING AND CURRENT ROW) AS has_qc
  FROM f2
),
f4 AS (
  SELECT *, CASE WHEN event_type = 'purchase' AND has_qc = 1
                 THEN 1 ELSE 0 END AS qp
  FROM f3
)
SELECT user_id,
       min(CASE WHEN event_type = 'view' THEN ts END) AS t_first_view,
       min(CASE WHEN qc = 1 THEN ts END) AS t_first_conv_click,
       min(CASE WHEN qp = 1 THEN ts END) AS t_first_conv_purchase,
       CAST(CASE WHEN max(qp) = 1 THEN 3 WHEN max(qc) = 1 THEN 2
                 WHEN max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) = 1
                 THEN 1 ELSE 0 END AS BIGINT) AS funnel_stage
FROM f4
GROUP BY user_id
"""


@register("w13_funnel", _W13_ORACLE)
def w13_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel with attribution windows: a click
    counts only if ANY view happened in the preceding 4 h, a purchase
    only if a qualified click happened in the preceding 24 h — the
    product-analytics funnel report, where stage 3 means the user
    actually traversed view -> click -> purchase inside the
    attribution deadlines (three independent event mins would call
    every active user converted; the fixture split is 51/57/42 users
    at stages 1/2/3, non-vacuity pinned in tests).

    TWO range frames (4 h and 24 h lookback, integer epoch-us bounds,
    j16's idiom) share ONE (user_id, ts) window sort — a single
    exchange, plan-pinned; the per-user rollup reuses the same
    partitioning. NULL-ts rows filtered on both engines (w9's NULLS
    FIRST divergence). At 100 TB: linear scan + one hash-partitioned
    sort; deeper funnels add frames to the SAME sort, never shuffles."""
    ev = load_tables(spark, sf_dir).events.filter(F.col("ts").isNotNull())
    cand = funnel_candidates(ev)
    return cand.select(
        "user_id",
        "t_first_view",
        "t_first_conv_click",
        "t_first_conv_purchase",
        funnel_stage_expr().alias("funnel_stage"),
    )


def funnel_candidates(events: DataFrame) -> DataFrame:
    """Per-user earliest (t_first_view, t_first_conv_click,
    t_first_conv_purchase) over the GIVEN event set — w13's staged
    range-frame computation, factored out so the streaming funnel
    sink (streaming.ops.foreach_batch_funnel) can run it per
    micro-batch over buffer ∪ batch and min-merge the results.
    Callers must pre-filter NULL ts."""
    base = Window.partitionBy("user_id").orderBy("us")
    staged = (
        events.select(
            "user_id", "ts", "event_type", F.unix_micros("ts").alias("us")
        )
        .withColumn(
            "has_view",
            F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).over(
                base.rangeBetween(-_W13_VIEW_US, 0)
            ),
        )
        .withColumn(
            "qc",
            F.when(
                (F.col("event_type") == "click") & (F.col("has_view") == 1), 1
            ).otherwise(0),
        )
        .withColumn(
            "has_qc",
            F.max("qc").over(base.rangeBetween(-_W13_CLICK_US, 0)),
        )
        .withColumn(
            "qp",
            F.when(
                (F.col("event_type") == "purchase") & (F.col("has_qc") == 1), 1
            ).otherwise(0),
        )
    )
    return staged.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "t_first_view"
        ),
        F.min(F.when(F.col("qc") == 1, F.col("ts"))).alias("t_first_conv_click"),
        F.min(F.when(F.col("qp") == 1, F.col("ts"))).alias(
            "t_first_conv_purchase"
        ),
    )


def funnel_stage_expr():
    """Stage from the three candidate mins (3 > 2 > 1 > 0) — shared by
    w13 and the streaming sink's final report so the derivations
    cannot drift."""
    return (
        F.when(F.col("t_first_conv_purchase").isNotNull(), 3)
        .when(F.col("t_first_conv_click").isNotNull(), 2)
        .when(F.col("t_first_view").isNotNull(), 1)
        .otherwise(0)
        .cast("bigint")
    )


# w14 — rolling z-score outlier flag, decided entirely in bigints.
_W14_ORACLE = """
WITH o AS (
  SELECT o_custkey, o_orderkey, o_orderdate,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
  WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
),
s AS (
  SELECT o_custkey, o_orderkey, cents,
         CAST(count(cents) OVER w AS BIGINT) AS n_base,
         CAST(coalesce(sum(cents) OVER w, 0) AS BIGINT) AS s1,
         CAST(coalesce(sum(cents * cents) OVER w, 0) AS BIGINT) AS s2
  FROM o
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
)
SELECT o_custkey, o_orderkey, cents, n_base,
       CAST(CASE WHEN n_base * cents - s1 > 0 THEN 1 ELSE -1 END
            AS BIGINT) AS direction
FROM s
WHERE n_base >= 4
  AND (n_base * cents - s1) * (n_base * cents - s1)
      > 9 * (n_base * s2 - s1 * s1)
"""


@register("w14_rolling_zscore", _W14_ORACLE)
def w14_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score outlier detection: flag orders whose value
    deviates more than 3 sigma from the customer's own trailing
    baseline (previous <=6 orders, current row excluded, at least 4
    required) — the per-entity anomaly gate of a monitoring pipeline,
    where a global threshold would miss that 50k is normal for one
    customer and wildly anomalous for another.

    The decision is exact integer arithmetic end to end: with n, S =
    sum(cents), SS = sum(cents^2) over the baseline frame, z^2 > 9 is
    equivalent to (n*x - S)^2 > 9*(n*SS - S^2) — no division, no
    sqrt, no float, so both engines agree bit-for-bit where a
    stddev_samp-based plan would hit the float-sum-order trap
    (magnitudes bounded: cents <= ~6e7, so every term stays under
    2^60). A zero-variance baseline flags ANY deviation (RHS = 0),
    the correct degenerate limit. count/sum/sum share ONE window spec
    -> a single o_custkey sort, high-cardinality key, no w7-style
    task ceiling; the flag is a scan-side filter above the Window so
    nothing else shuffles."""
    o = (
        load_tables(spark, sf_dir)
        .orders.filter(
            F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
        )
        .withColumn("cents", F.round(F.col("o_totalprice") * 100).cast("bigint"))
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(-6, -1)
    )
    n = F.count("cents").over(w).cast("bigint")
    s1 = F.coalesce(F.sum("cents").over(w), F.lit(0)).cast("bigint")
    s2 = F.coalesce(
        F.sum(F.col("cents") * F.col("cents")).over(w), F.lit(0)
    ).cast("bigint")
    dev = n * F.col("cents") - s1
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "cents",
            n.alias("n_base"),
            dev.alias("dev"),
            (n * s2 - s1 * s1).alias("var_n2"),
        )
        .filter((F.col("n_base") >= 4) & (F.col("dev") * F.col("dev") > 9 * F.col("var_n2")))
        .select(
            "o_custkey",
            "o_orderkey",
            "cents",
            "n_base",
            F.when(F.col("dev") > 0, 1).otherwise(-1).cast("bigint").alias("direction"),
        )
    )


def merge_intervals(e: DataFrame) -> DataFrame:
    """Core of w15, DataFrame-in/DataFrame-out so property tests can
    drive the SHIPPED plan over arbitrary interval sets: input columns
    (user_id, event_id, start_us, end_us); output one row per maximal
    overlap island. See w15's docstring for the running-max argument."""
    order = [F.col("start_us").asc(), F.col("event_id").asc()]
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = Window.partitionBy("user_id").orderBy(*order)
    new_island = F.when(
        F.col("prev_max").isNull() | (F.col("start_us") > F.col("prev_max")), 1
    ).otherwise(0)
    return (
        e.withColumn("prev_max", F.max("end_us").over(w_prev))
        .withColumn("island_id", F.sum(new_island).over(w_run).cast("bigint"))
        .groupBy("user_id", "island_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.min("start_us").alias("island_start_us"),
            F.max("end_us").alias("island_end_us"),
            (F.max("end_us") - F.min("start_us")).alias("covered_us"),
        )
    )


# w15 — merge overlapping per-user activity intervals into islands.
_W15_ORACLE = """
WITH e AS (
  SELECT user_id, event_id,
         CAST(epoch_us(ts) AS BIGINT) AS start_us,
         CAST(epoch_us(ts) AS BIGINT)
           + CAST(round(value * 60 * 1000000) AS BIGINT) AS end_us
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
),
m AS (
  SELECT *, max(end_us) OVER (
    PARTITION BY user_id ORDER BY start_us, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
  FROM e
),
g AS (
  SELECT *, CAST(sum(CASE WHEN prev_max IS NULL OR start_us > prev_max
                          THEN 1 ELSE 0 END) OVER (
    PARTITION BY user_id ORDER BY start_us, event_id) AS BIGINT) AS island_id
  FROM m
)
SELECT user_id, island_id,
       CAST(count(*) AS BIGINT) AS n_events,
       min(start_us) AS island_start_us,
       max(end_us) AS island_end_us,
       max(end_us) - min(start_us) AS covered_us
FROM g GROUP BY user_id, island_id
"""


@register("w15_interval_merge", _W15_ORACLE)
def w15_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge overlapping variable-length activity intervals into
    maximal islands per user (interval = [ts, ts + value minutes]):
    the gaps-and-islands computation behind "total engaged time" and
    resource-booking overlap reports. w9's sessionizer is the
    fixed-gap special case; here interval LENGTH varies per event, so
    a long event can bridge neighbors a fixed gap rule would split —
    an island closes only when the next start exceeds the running max
    of ALL previous ends (a plain lag(end) misses containment: a
    short interval inside a long one must not reopen the island).

    Island boundaries are integer epoch-µs (duration = round(value *
    6e7) µs as bigint) so no float instant ever crosses the engine
    boundary. The running max (UNBOUNDED..1 PRECEDING) and the
    island-id running sum share ONE (user_id; start_us, event_id)
    window sort, and the per-island rollup runs on the SAME
    partitioning (every (user, island) group is clustered inside its
    user_id partition) — the whole op costs exactly one Exchange,
    plan-pinned in tests. Touching intervals
    (next.start == prev.end) merge by the > test on both engines."""
    e = (
        load_tables(spark, sf_dir)
        .events.filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("start_us"),
            (
                F.unix_micros("ts")
                + F.round(F.col("value") * 60 * 1_000_000).cast("bigint")
            ).alias("end_us"),
        )
    )
    return merge_intervals(e)


# w16 — MATCH_RECOGNIZE-style sequence detection: per-user journey
# string + a regex over it. 'v[^p]*p' (a view converting at the FIRST
# following purchase) is chosen because its match set is unique —
# leftmost-scan non-overlapping counts agree between Java regex
# (backtracking) and RE2-style engines (leftmost-longest), which a
# pattern with ambiguous alternation would not guarantee.
_W16_ORACLE = """
WITH e AS (
  SELECT user_id, substr(event_type, 1, 1) AS ch, ts, event_id
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
),
j AS (
  SELECT user_id,
         string_agg(ch, '' ORDER BY ts, event_id) AS journey,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CASE WHEN ch = 'p' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_purchases
  FROM e GROUP BY user_id
)
SELECT user_id, n_events, n_purchases,
       CAST(len(regexp_extract_all(journey, 'v[^p]*p')) AS BIGINT)
         AS n_conversions
FROM j
"""


@register("w16_seq_pattern", _W16_ORACLE)
def w16_seq_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-SEQUENCE pattern matching (the MATCH_RECOGNIZE shape):
    collapse each user's ordered event stream into a journey string
    (one char per event — types have distinct initials) and count
    non-overlapping 'v[^p]*p' matches = purchases attributed to a
    preceding unconsumed view with no purchase in between. w13's
    funnel asks "did stages happen within deadlines"; w16 asks "how
    many times did the full regular pattern traverse", which frame
    windows cannot express (a regex can nest/repeat arbitrarily).

    One shuffle: groupBy(user_id) with a partial-merged collect_list
    of (ts, event_id, ch) structs, array_sort + transform + concat_ws
    building the journey JVM-side, regexp_count over it — no window
    sort at all and no Python boundary. Per-group state is bounded by
    per-user activity (the same bound w9/a10 carry); at 100 TB a
    multi-year hyperactive user would cap via a time-bucketed journey
    (group by user+month) without changing the plan. Ordering ties
    break on unique event_id; NULL ts/type filtered on BOTH engines
    (NULLS FIRST divergence). The match count is engine-portable
    because each match is forced to end at the FIRST 'p' after its
    'v' — no backtracking ambiguity between regex engines."""
    e = (
        load_tables(spark, sf_dir)
        .events.filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .select(
            "user_id",
            "ts",
            "event_id",
            F.substring("event_type", 1, 1).alias("ch"),
        )
    )
    j = e.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "ch"))),
                lambda s: s["ch"],
            ),
        ).alias("journey"),
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("ch") == "p", 1).otherwise(0))
        .cast("bigint")
        .alias("n_purchases"),
    )
    return j.select(
        "user_id",
        "n_events",
        "n_purchases",
        F.regexp_count("journey", F.lit("v[^p]*p")).cast("bigint").alias(
            "n_conversions"
        ),
    )


# w17 — cohort retention: bucket customers by FIRST-order month, then
# count distinct active customers at each month offset. orders (not
# events) because the fixture event stream spans one month while
# orders span 1992–1998 (FIXTURES note) — cohorts need calendar depth.
_W17_ORACLE = """
WITH o AS (
  SELECT o_custkey,
         CAST((year(CAST(o_orderdate AS DATE)) - 1992) * 12
              + month(CAST(o_orderdate AS DATE)) - 1 AS BIGINT) AS m
  FROM orders WHERE o_orderdate IS NOT NULL
),
c AS (
  SELECT o_custkey, m, min(m) OVER (PARTITION BY o_custkey) AS cohort
  FROM o
)
SELECT cohort AS cohort_month, m - cohort AS month_offset,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_active,
       CAST(count(*) AS BIGINT) AS n_orders
FROM c GROUP BY cohort, m - cohort
"""


@register("w17_retention_cohorts", _W17_ORACLE)
def w17_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention analysis: customers grouped by the month of
    their FIRST order (the cohort), then each later order counts its
    customer as "active at month offset k" — the retention triangle
    every growth/engagement dashboard starts from, and the pattern
    behind "did the 1995-03 signup class stick around longer than
    1995-02". Month index is integer (year-1992)*12 + month-1, so
    offsets subtract exactly; no date arithmetic crosses the engines.

    Plan: one o_custkey window (min month per customer — an unordered
    partition frame, no sort-by-value) then a distinct-count over the
    tiny (cohort × offset) key grid: the expensive stage is one
    shuffle of (custkey, month) pairs, the distinct aggregate expands
    map-side and lands on |cohorts|·|offsets| rows (~84×84 ceiling
    here, constant in data size). A join-based formulation (first
    order per customer joined back to orders) would shuffle orders
    twice; the window form shuffles once."""
    o = (
        load_tables(spark, sf_dir)
        .orders.filter(F.col("o_orderdate").isNotNull())
        .select(
            "o_custkey",
            (
                (F.year(F.col("o_orderdate").cast("date")) - 1992) * 12
                + F.month(F.col("o_orderdate").cast("date"))
                - 1
            )
            .cast("bigint")
            .alias("m"),
        )
    )
    c = o.withColumn(
        "cohort", F.min("m").over(Window.partitionBy("o_custkey"))
    )
    return (
        c.groupBy(
            F.col("cohort").alias("cohort_month"),
            (F.col("m") - F.col("cohort")).alias("month_offset"),
        )
        .agg(
            F.countDistinct("o_custkey").cast("bigint").alias("n_active"),
            F.count("*").cast("bigint").alias("n_orders"),
        )
    )


# w18 — time-weighted average (TWAP): each event's value holds until
# the user's next event (a step function); the plain avg() weights a
# 10-day-stale reading and a 2-second blip identically, TWAP weights
# by holding duration. Exact rational (num, den) in cents×µs — the
# a22 idiom: no float division ever crosses the engines.
_W18_ORACLE = """
WITH e AS (
  SELECT user_id,
         CAST(epoch_us(ts) AS BIGINT) AS us,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
),
seg AS (
  SELECT user_id, cents,
         lead(us) OVER (PARTITION BY user_id ORDER BY us) - us AS dur_us
  FROM e
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(cents * dur_us) AS BIGINT) AS twap_num,
       CAST(sum(dur_us) AS BIGINT) AS twap_den
FROM seg WHERE dur_us IS NOT NULL AND dur_us > 0
GROUP BY user_id
"""


@register("w18_twap", _W18_ORACLE)
def w18_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of each user's event value: the value in
    force between consecutive events is weighted by how LONG it was in
    force (sensor readings, account balances, price feeds — anywhere
    observations arrive irregularly and a plain avg() over-counts
    bursts). The last observation has no successor and contributes no
    segment, the standard TWAP convention; zero-length segments
    (equal-µs ties) drop on both engines.

    Emitted as the exact bigint rational (twap_num, twap_den) in
    cents·µs / µs — consumers divide or cross-multiply; the engine
    never does float division (a22's discipline). One (user_id; us)
    window sort for the lead(), then a partial-combined aggregate on
    the same key — the groupBy reuses the window's partitioning, so
    the op costs exactly ONE Exchange (plan-pinned). Magnitudes:
    |num| <= max_cents · total_span_us per user ~ 5e4·2.7e12 ≈ 1.4e17,
    int64-safe regardless of event count since durations sum to the
    span. Ties at equal ts: lead is ordered by (us) alone, so a
    duplicate-µs pair yields dur=0 which both engines FILTER — the
    ordering ambiguity is thereby unobservable (the reason no
    event_id tie-break is needed here, unlike w15)."""
    e = (
        load_tables(spark, sf_dir)
        .events.filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select(
            "user_id",
            F.unix_micros("ts").alias("us"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("us")
    seg = e.select(
        "user_id",
        "cents",
        (F.lead("us").over(w) - F.col("us")).alias("dur_us"),
    ).filter(F.col("dur_us").isNotNull() & (F.col("dur_us") > 0))
    return seg.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_segments"),
        F.sum(F.col("cents") * F.col("dur_us")).cast("bigint").alias("twap_num"),
        F.sum("dur_us").cast("bigint").alias("twap_den"),
    )


# w19 — running-peak drawdown: the monitoring statistic for "how far
# below its best has this series fallen" (finance equity curves, SLO
# error budgets, cumulative-yield tracking).
_W19_ORACLE = """
WITH o AS (
  SELECT o_custkey, o_orderkey, o_orderdate,
         CASE WHEN o_orderstatus = 'F' THEN -1 ELSE 1 END
           * CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_orderdate IS NOT NULL
),
b AS (
  SELECT o_custkey, o_orderkey, o_orderdate,
         CAST(sum(cents) OVER w AS BIGINT) AS bal
  FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
r AS (
  SELECT o_custkey, bal,
         CAST(max(bal) OVER w AS BIGINT) AS peak
  FROM b WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
)
SELECT o_custkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       max(peak) AS peak_cents,
       max(peak - bal) AS max_drawdown_cents
FROM r GROUP BY o_custkey
"""


@register("w19_drawdown", _W19_ORACLE)
def w19_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each customer's order BACKLOG series: an
    open/pending order books value (+cents), a fulfilled one ships it
    out (−cents); the running balance is outstanding booked value,
    and max drawdown = the deepest gap below the running PEAK — "how
    far has this account's backlog fallen from its best", the
    monitoring statistic equity curves, SLO error budgets, and yield
    trackers all share. A signed series is essential: on a
    non-negative series the balance is monotone and every drawdown is
    identically 0 (the vacuous form) — the test pins that drawdowns
    are strictly positive for some customers AND zero for monotone
    ones, so both regimes are exercised. All integer cents.

    The running sum, the running max OVER the running sum (two
    window functions nesting on the same frame), and the
    per-customer rollup all share ONE (custkey; date, orderkey)
    sort — a single Exchange, plan-pinned like w15/p24."""
    o = (
        load_tables(spark, sf_dir)
        .orders.filter(F.col("o_orderdate").isNotNull())
        .select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            (
                F.when(F.col("o_orderstatus") == "F", -1)
                .otherwise(1)
                .cast("bigint")
                * F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("cents"),
        )
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum("cents").over(w).cast("bigint").alias("bal"),
    ).withColumn("peak", F.max("bal").over(w).cast("bigint"))
    return r.groupBy("o_custkey").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.max("peak").alias("peak_cents"),
        F.max(F.col("peak") - F.col("bal")).alias("max_drawdown_cents"),
    )


def ranged_running_sum(
    df: DataFrame, value: str | Column, order: list, n_ranges: int
) -> DataFrame:
    """`df` plus `_cum`, the running sum of `value` over the total
    order `order`, counting the row itself. `order[0]` names an
    ascending integer column with no NULLs; later entries (names or
    Columns) break its ties. Empty input gives an empty frame.

    A global running window moves the whole table through one task,
    so the sum runs in two passes instead. Pass 1 cuts the leading
    key into `n_ranges` fixed-width ranges off one min/max scan and
    collects one partial sum per range (|ranges| rows of driver
    state, the same O(n_partitions) as a shuffle's map statuses);
    their prefix sums are the carry-ins. Pass 2 runs a ROWS window
    partitioned by the range id `_pid` and adds the row's carry-in.
    Equal leading keys never split across ranges, so the result is
    the global window's exactly.

    The ranges are computed from the key, not drawn by
    repartitionByRange: RangePartitioner's sample seed incorporates
    the RDD id, so an unpersisted recompute re-draws DIFFERENT
    boundaries (p6 once drifted from 16 to 15 batches the moment its
    persist was dropped). Arithmetic ranges make both passes agree by
    a property of the data, with nothing persisted; the cost is
    balance under key skew, which for a dense surrogate key is moot."""
    key = order[0]
    lo, hi = df.agg(F.min(key), F.max(key)).first()
    if lo is None:  # empty input: one empty range
        lo = hi = 0
    width = max(1, -(-(hi - lo + 1) // n_ranges))  # ceil-div
    ranged = df.withColumn(
        "_pid", F.expr(f"(`{key}` - ({lo})) div {width}").cast("int")
    )
    sums = ranged.groupBy("_pid").agg(F.sum(value)).collect()
    entries: list = []
    acc = 0
    for pid, s in sorted(sums):
        entries += [F.lit(pid), F.lit(acc)]
        acc += s
    carry = F.element_at(F.create_map(*entries), F.col("_pid")) if entries else F.lit(0)
    w = Window.partitionBy("_pid").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return ranged.withColumn("_cum", F.sum(value).over(w) + carry).drop("_pid")


# ---------------------------------------------------------------------------
# w20: peak concurrent sessions per day — the interval-stabbing
# maximum over w9's gap sessions. The textbook answer is a GLOBAL
# running sum over a time-ordered +1/-1 boundary stream, which is a
# single-task sort at any scale; this op computes the identical
# values from 2 boundary rows per session — (start, +1) and
# (end, -1), never one per event — and ranged_running_sum over them.
#
# Boundary order is (tus ASC, delta DESC, user_id ASC): starts before
# ends at the same instant (endpoint-inclusive overlap — also what
# keeps a single-event session from dipping to -1), user_id as the
# unique tiebreaker (one user cannot hold two boundaries at one tus:
# w9 sessions of the same user are > 12 h apart). The day peak reads
# only +1 rows — the running maximum is always attained immediately
# after a start.
# Day arithmetic stays in exact integers: (tus - tus % DAY) / DAY
# with an evenly-divisible numerator (the b11/t20 exact-DIV trick).
# ---------------------------------------------------------------------------

_W20_DAY_US = 86_400_000_000
_W20_N_RANGES = 32

_W20_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS tus FROM events
  WHERE ts IS NOT NULL
),
g AS (
  SELECT user_id, event_id, tus,
         CASE WHEN lag(tus) OVER w IS NULL
                OR tus - lag(tus) OVER w > {{gap}} THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
),
s AS (
  SELECT user_id, tus,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM g
),
sess AS (
  SELECT user_id, min(tus) AS a, max(tus) AS b FROM s GROUP BY user_id, session_id
),
bnd AS (
  SELECT user_id, a AS tus, 1 AS delta FROM sess
  UNION ALL
  SELECT user_id, b AS tus, -1 AS delta FROM sess
),
r AS (
  SELECT tus, delta, user_id,
         CAST(sum(delta) OVER (ORDER BY tus ASC, delta DESC, user_id ASC
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conc
  FROM bnd
)
SELECT CAST(tus // {_W20_DAY_US} AS BIGINT) AS epoch_day,
       CAST(max(conc) AS BIGINT) AS peak_concurrency,
       CAST(count(*) AS BIGINT) AS n_sessions_started
FROM r WHERE delta = 1 GROUP BY epoch_day
"""


def boundary_concurrency(ev: DataFrame) -> DataFrame:
    """Sessionize + boundary stream + ranged_running_sum, factored
    from w20 so w21 can reuse it: returns one row per session
    BOUNDARY (user_id, tus, delta, conc) where conc is the exact
    global concurrency immediately after that boundary in
    (tus ASC, delta DESC, user_id ASC) order."""
    w = Window.partitionBy("user_id").orderBy(F.col("tus").asc(), F.col("event_id").asc())
    gap = F.col("tus") - F.lag("tus").over(w)
    new_s = F.when(gap.isNull() | (gap > _W9_GAP_US), 1).otherwise(0)
    sess = (
        ev.withColumn(
            "session_id",
            F.sum(new_s).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "session_id")
        .agg(F.min("tus").alias("a"), F.max("tus").alias("b"))
    )
    # one-pass boundary stream (r11-verdict task 3): a single explode
    # off the session aggregate emits both boundary rows, so the
    # user_id Exchange + session window + agg subtree runs ONCE — the
    # previous two-select union instantiated it twice (ReuseExchange
    # does not collapse the differing projections above the agg),
    # doubling the dominant cost at scale.
    bnd = sess.select(
        "user_id",
        F.explode(
            F.array(
                F.struct(
                    F.col("a").alias("tus"), F.lit(1).cast("int").alias("delta")
                ),
                F.struct(
                    F.col("b").alias("tus"), F.lit(-1).cast("int").alias("delta")
                ),
            )
        ).alias("_e"),
    ).select("user_id", "_e.tus", "_e.delta")
    return ranged_running_sum(
        bnd, "delta", ["tus", F.col("delta").desc(), "user_id"], _W20_N_RANGES
    ).select("user_id", "tus", "delta", F.col("_cum").cast("bigint").alias("conc"))


def peak_concurrency(ev: DataFrame) -> DataFrame:
    """w20's core over a (user_id, event_id, tus) frame — factored
    from the registered op so edge geometries (single-event sessions,
    multi-day sessions, simultaneous starts across users) can be
    pinned on synthetic inputs. See the block comment above. Contract
    (documented, round-11 ADVICE): the per-day peak is the maximum
    concurrency attained at SESSION STARTS within that day — a day
    whose true maximum is inherited from sessions carried in from
    earlier days reports the post-start maximum only, and a day with
    active sessions but no starts emits no row. w21
    (peak_concurrency_daily) is the carried-in variant."""
    conc = boundary_concurrency(ev)
    day = ((F.col("tus") - F.col("tus") % _W20_DAY_US) / _W20_DAY_US).cast("bigint")
    return (
        conc.filter(F.col("delta") == 1)
        .groupBy(day.alias("epoch_day"))
        .agg(
            F.max("conc").alias("peak_concurrency"),
            F.count("*").cast("bigint").alias("n_sessions_started"),
        )
    )


@register("w20_peak_concurrency", _W20_ORACLE.format(gap=_W9_GAP_US))
def w20_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per epoch day (w9's 12-h-gap sessions,
    endpoint-inclusive overlap) — the capacity-planning census. See
    the block comment and ranged_running_sum for the plan; the oracle
    restates it as the naive global running sum, so the hash gate
    proves the carry-in composition exact."""
    return peak_concurrency(
        load_tables(spark, sf_dir)
        .events.filter(F.col("ts").isNotNull())
        .select("user_id", "event_id", F.unix_micros("ts").alias("tus"))
    )


# ---------------------------------------------------------------------------
# w21: TRUE per-day peak concurrency (round 12, r11-ADVICE medium).
# w20's contract reports the peak attained AT SESSION STARTS within
# each day — a day whose maximum is inherited from sessions carried in
# from earlier days understates it, and a day with active sessions but
# no boundaries emits no row at all. w21 is the carried-in variant the
# capacity planner actually wants: every day from the first to the
# last session boundary where anything is active gets a row, each day
# seeded with the concurrency carried across midnight.
#
# Identity it rests on: the concurrency step function attains a local
# maximum only (a) immediately after a +1 boundary or (b) at the start
# of the day (the carried-in value), so
#   peak(day) = greatest(carry_in, max conc over the day's +1 rows),
# and carry_in(day) = conc after the LAST boundary of the previous
# present day (constant across boundary-free gap days). The day
# CENSUS (one row per day with any boundary) is bounded by the time
# domain — a few thousand rows for years of data at ANY corpus size —
# so the lag/lead prefix over it is the a19/w10 tiny-input window
# class, never a corpus-sized one; gap days materialize from a
# per-row sequence() explode bounded by the same domain.
# ---------------------------------------------------------------------------

# The oracle reuses w20's sessionize/boundary/running-sum CTE chain
# verbatim (string-sliced, so the contracts cannot drift), then adds
# the day census + carry/gap-fill layer.
_W21_ORACLE = _W20_ORACLE[: _W20_ORACLE.index("SELECT CAST(tus //")].rstrip() + f""",
rd AS (
  SELECT tus, delta, user_id, conc,
         CAST(tus // {_W20_DAY_US} AS BIGINT) AS d,
         row_number() OVER (PARTITION BY tus // {_W20_DAY_US}
                            ORDER BY tus DESC, delta ASC, user_id DESC) AS rn
  FROM r
),
days AS (
  SELECT d,
         CAST(count(*) FILTER (WHERE delta = 1) AS BIGINT) AS n_started,
         max(conc) FILTER (WHERE delta = 1) AS mas,
         max(conc) FILTER (WHERE rn = 1) AS end_conc
  FROM rd GROUP BY d
),
census AS (
  SELECT d, n_started, mas, end_conc,
         coalesce(lag(end_conc) OVER (ORDER BY d), 0) AS carry,
         lead(d) OVER (ORDER BY d) AS nxt
  FROM days
)
SELECT d AS epoch_day,
       CAST(greatest(coalesce(mas, carry), carry) AS BIGINT) AS peak_concurrency,
       n_started AS n_sessions_started
FROM census
UNION ALL
SELECT unnest(generate_series(d + 1, nxt - 1)) AS epoch_day,
       CAST(end_conc AS BIGINT) AS peak_concurrency,
       CAST(0 AS BIGINT) AS n_sessions_started
FROM census WHERE nxt IS NOT NULL AND nxt > d + 1 AND end_conc > 0
"""


def peak_concurrency_daily(ev: DataFrame) -> DataFrame:
    """w21's core over a (user_id, event_id, tus) frame — the
    carried-in per-day peak (see the block comment). Output schema is
    w20's: (epoch_day, peak_concurrency, n_sessions_started)."""
    conc = boundary_concurrency(ev)
    day = ((F.col("tus") - F.col("tus") % _W20_DAY_US) / _W20_DAY_US).cast("bigint")
    # last boundary of the day in (tus ASC, delta DESC, user_id ASC)
    # order = max of (tus, -delta, user_id); unique per row (one user
    # cannot hold two identical boundaries at one tus)
    last_ord = F.struct(
        F.col("tus"), (-F.col("delta")).alias("late"), F.col("user_id")
    )
    days = conc.groupBy(day.alias("d")).agg(
        F.count_if(F.col("delta") == 1).cast("bigint").alias("n_started"),
        F.max(F.when(F.col("delta") == 1, F.col("conc"))).alias("mas"),
        F.max_by("conc", last_ord).alias("end_conc"),
    )
    # day-census prefix: bounded by the time domain (a19/w10 class)
    w_day = Window.orderBy(F.col("d").asc())
    census = days.select(
        "*",
        F.coalesce(F.lag("end_conc").over(w_day), F.lit(0)).alias("carry"),
        F.lead("d").over(w_day).alias("nxt"),
    )
    # one-pass emission (the w20 union lesson): the present-day row and
    # its trailing gap-day rows explode off the SAME census row, so the
    # sessionize/carry/census subtree is instantiated once — a
    # present ∪ gaps union would recompute it per branch.
    present_struct = F.struct(
        F.col("d").alias("epoch_day"),
        F.greatest(F.coalesce(F.col("mas"), F.col("carry")), F.col("carry"))
        .cast("bigint")
        .alias("peak_concurrency"),
        F.col("n_started").alias("n_sessions_started"),
    )
    gap_arr = F.when(
        F.col("nxt").isNotNull()
        & (F.col("nxt") > F.col("d") + 1)
        & (F.col("end_conc") > 0),
        F.transform(
            F.sequence(F.col("d") + 1, F.col("nxt") - 1),
            lambda g: F.struct(
                g.alias("epoch_day"),
                F.col("end_conc").cast("bigint").alias("peak_concurrency"),
                F.lit(0).cast("bigint").alias("n_sessions_started"),
            ),
        ),
    )
    typed_empty = F.slice(F.array(present_struct), 1, 0)
    return census.select(
        F.explode(
            F.concat(F.array(present_struct), F.coalesce(gap_arr, typed_empty))
        ).alias("_r")
    ).select("_r.*")


@register("w21_peak_concurrency_daily", _W21_ORACLE.format(gap=_W9_GAP_US))
def w21_peak_concurrency_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True per-day peak concurrent sessions with cross-midnight
    carry-in and boundary-free active days filled (see the block
    comment; w20 is the peaks-at-starts variant). The oracle restates
    the same day census over the naive global running sum, so the
    hash gate proves both the carry-in composition AND the day
    seeding/gap-fill exact."""
    return peak_concurrency_daily(
        load_tables(spark, sf_dir)
        .events.filter(F.col("ts").isNotNull())
        .select("user_id", "event_id", F.unix_micros("ts").alias("tus"))
    )
