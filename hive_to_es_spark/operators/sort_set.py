"""Sort / limit / top-k / sampling + set operations
(SURVEY.md §2.B, keys o1-o3 and u1-u5).

orderBy+limit compiles to TakeOrderedAndProject — a per-partition
top-k then a single driver-side k-merge, O(k) memory regardless of
input size: the only global "sort" shape that is 100 TB-safe. Full
global sorts (o2 without limit) use range partitioning (sampled
boundaries); here o2 also carries a LIMIT with a unique tiebreaker per
the determinism rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hive_to_es_spark.functions.hashing import hash_bucket, md5_60, md5_60_sql
from hive_to_es_spark.functions.lifecycle import materialize
from hive_to_es_spark.io import load_tables
from hive_to_es_spark.registry import register

_O1_ORACLE = """
SELECT o_orderkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 20
"""


@register("o1_order_limit", _O1_ORACLE)
def o1_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k (TakeOrderedAndProject), unique tiebreak on key."""
    o = load_tables(spark, sf_dir).orders
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", "o_totalprice")
        .limit(20)
    )


# NULLs manufactured via nullif so nulls-last ordering is real.
_O2_ORACLE = """
SELECT l_orderkey, l_linenumber, l_returnflag, nullif(l_discount, 0.0) AS disc
FROM lineitem
ORDER BY l_returnflag ASC, disc DESC NULLS LAST, l_orderkey ASC, l_linenumber ASC
LIMIT 100
"""


@register("o2_multi_key_sort", _O2_ORACLE)
def o2_multi_key_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key mixed asc/desc sort with NULLS LAST placement."""
    li = load_tables(spark, sf_dir).lineitem
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            F.nullif(F.col("l_discount"), F.lit(0.0)).alias("disc"),
        )
        .orderBy(
            F.col("l_returnflag").asc(),
            F.col("disc").desc_nulls_last(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        )
        .limit(100)
    )


@register("o3_sample", None)  # PRNG streams differ per engine -> rows-only
def o3_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bernoulli sample with fixed seed (deterministic per engine,
    not across engines)."""
    li = load_tables(spark, sf_dir).lineitem
    return li.sample(fraction=0.1, seed=42).select("l_orderkey", "l_linenumber")


_O4_ORACLE = f"""
SELECT doc_id, bucket
FROM (
  SELECT doc_id,
         {md5_60_sql("doc_id")} % 100 AS bucket
  FROM documents
)
WHERE bucket < 5
"""


@register("o4_hash_sample", _O4_ORACLE)
def o4_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5% sample of documents by key-hash bucket —
    reproducible across engines/runs/partitionings (hash_bucket), so
    it CAN be fully value-verified, unlike o3's seeded PRNG. Narrow
    plan: scan + project + filter, no shuffle; at 100 TB the sample
    rate is a pure scan-side predicate."""
    d = load_tables(spark, sf_dir).documents
    return d.select("doc_id", hash_bucket("doc_id").alias("bucket")).filter(
        F.col("bucket") < 5
    )


_O5_ORACLE = f"""
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM (
  SELECT n_chars,
         CASE WHEN bucket < 90 THEN 'train'
              WHEN bucket < 95 THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT n_chars,
           {md5_60_sql("doc_id")} % 100 AS bucket
    FROM documents
  )
)
GROUP BY split
"""


@register("o5_train_split", _O5_ORACLE)
def o5_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 90/5/5 train/val/test split over documents with
    per-split size accounting — the training-data-pipeline form of o4:
    assignment is a pure function of doc_id (stable under appends; a
    doc never migrates between splits), the aggregate is a 3-group
    partial-agg that collapses map-side."""
    d = load_tables(spark, sf_dir).documents
    b = hash_bucket("doc_id")
    split = (
        F.when(b < 90, "train").when(b < 95, "val").otherwise("test").alias("split")
    )
    return (
        d.select(split, "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


# Integer-only threshold arithmetic (bucket*cnt < tgt*1000) so both
# engines compare exact bigints — no float rate, no rounding drift.
_O6_ORACLE = f"""
WITH counts AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
tgt AS (SELECT min(cnt) AS tgt FROM counts),
kept AS (
  SELECT d.lang, c.cnt
  FROM documents d JOIN counts c ON d.lang = c.lang, tgt
  WHERE ({md5_60_sql("d.doc_id")} % 1000) * c.cnt < tgt.tgt * 1000
)
SELECT lang, CAST(max(cnt) AS BIGINT) AS n_before,
       CAST(count(*) AS BIGINT) AS n_kept
FROM kept GROUP BY lang
"""


@register("o6_balanced_mixture", _O6_ORACLE)
def o6_balanced_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic balanced-mixture downsampling: every language
    stratum is hash-sampled toward the SMALLEST stratum's size (rate =
    min_count/count), the data-mixing step that rebalances a skewed
    corpus before training.

    Plan shape at 100 TB: two tiny aggregates (per-stratum counts and
    their min — a handful of rows) broadcast back onto the scan, and
    the keep decision is a pure integer predicate of (doc_id, stratum
    counts): bucket(doc_id)*cnt < min_cnt*1000, exact in bigints on
    both engines. Rows never shuffle for the sampling itself; like
    o4/o5 the assignment is stable under reruns and appends — a kept
    doc stays kept as long as its stratum's rate does not tighten.
    """
    d = load_tables(spark, sf_dir).documents
    counts = d.groupBy("lang").agg(F.count("*").alias("cnt"))
    tgt = counts.agg(F.min("cnt").alias("tgt"))
    rates = counts.crossJoin(tgt)
    return (
        d.join(F.broadcast(rates), "lang")
        .filter(hash_bucket("doc_id", 1000) * F.col("cnt") < F.col("tgt") * 1000)
        .groupBy("lang")
        .agg(
            F.max("cnt").cast("bigint").alias("n_before"),
            F.count("*").cast("bigint").alias("n_kept"),
        )
    )


_BIG = "SELECT o_orderkey FROM orders WHERE o_totalprice > 400000"
_URG = "SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'"

_U1_ORACLE = f"{_BIG} UNION ALL {_URG}"


@register("u1_union_all", _U1_ORACLE)
def u1_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL — bag union, no shuffle (narrow concat of partitions)."""
    o = load_tables(spark, sf_dir).orders
    big = o.filter(F.col("o_totalprice") > 400000).select("o_orderkey")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    return big.unionByName(urgent)


_U2_ORACLE = f"{_BIG} UNION {_URG}"


@register("u2_union_distinct", _U2_ORACLE)
def u2_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) — concat + hash-distinct shuffle."""
    o = load_tables(spark, sf_dir).orders
    big = o.filter(F.col("o_totalprice") > 400000).select("o_orderkey")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    return big.unionByName(urgent).distinct()


_U3_ORACLE = f"{_BIG} INTERSECT {_URG}"


@register("u3_intersect", _U3_ORACLE)
def u3_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics)."""
    o = load_tables(spark, sf_dir).orders
    big = o.filter(F.col("o_totalprice") > 400000).select("o_orderkey")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    return big.intersect(urgent)


_U4_ORACLE = f"{_BIG} EXCEPT {_URG}"


@register("u4_except", _U4_ORACLE)
def u4_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct semantics). subtract() IS Spark's EXCEPT
    DISTINCT: a left row with multiplicity >1 that appears once on the
    right is dropped entirely (exceptAll().distinct() would keep it)."""
    o = load_tables(spark, sf_dir).orders
    big = o.filter(F.col("o_totalprice") > 400000).select("o_orderkey")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    return big.subtract(urgent)


_U5_ORACLE = """
SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
"""


@register("u5_distinct", _U5_ORACLE)
def u5_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT on a projected key subset (deterministic because only
    the key columns are emitted; dropDuplicates on wider rows would
    pick arbitrary survivors)."""
    o = load_tables(spark, sf_dir).orders
    return o.select("o_orderstatus", "o_orderpriority").dropDuplicates()


# Bag semantics: duplicates are manufactured by doubling one branch
# (branch keys are unique otherwise), then INTERSECT ALL / EXCEPT ALL
# multiplicities are observable in the grouped counts.
_U6_ORACLE = f"""
WITH big2 AS ({_BIG} UNION ALL {_BIG}),
ia AS (SELECT * FROM big2 INTERSECT ALL {_URG}),
ea AS (SELECT * FROM big2 EXCEPT ALL {_URG})
SELECT 'intersect_all' AS op, count(*) AS n, count(DISTINCT o_orderkey) AS n_distinct FROM ia
UNION ALL
SELECT 'except_all' AS op, count(*) AS n, count(DISTINCT o_orderkey) AS n_distinct FROM ea
"""


@register("u6_intersect_except_all", _U6_ORACLE)
def u6_intersect_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL / EXCEPT ALL (bag semantics): with the left side
    doubled, intersectAll keeps min(2,1)=1 copy per matching key and
    exceptAll keeps 2-1=1 copy — both distinguishable from the
    distinct forms only because duplicates exist."""
    o = load_tables(spark, sf_dir).orders
    big = o.filter(F.col("o_totalprice") > 400000).select("o_orderkey")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    big2 = big.unionAll(big)
    ia = big2.intersectAll(urgent)
    ea = big2.exceptAll(urgent)
    summarize = lambda df, tag: df.agg(  # noqa: E731
        F.lit(tag).alias("op"),
        F.count("*").alias("n"),
        F.countDistinct("o_orderkey").alias("n_distinct"),
    ).select("op", "n", "n_distinct")
    return summarize(ia, "intersect_all").unionByName(summarize(ea, "except_all"))


_O7_ORACLE = """
SELECT doc_id, lang
FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
)
WHERE rn <= 50
"""


@register("o7_stratum_cap", _O7_ORACLE)
def o7_stratum_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum cap: keep at most N=50 documents per
    language, chosen by md5(doc_id) order — the "no source dominates"
    step of corpus mixing (cap each domain/language/source at a fixed
    contribution), complementing o6's proportional rebalancing.

    Hash order makes the winners a pure function of the KEY SET: the
    same doc wins under reruns and engine swaps (value-verified here),
    and appends can only displace losers, never reshuffle survivors
    arbitrarily as a PRNG would. doc_id tiebreak keeps the order total
    even under md5 collisions.

    Plan: one shuffle on lang + per-partition sort, row_number, filter
    — no global sort. At 100 TB the refinement is two-pass: a map-side
    partial top-N per partition (each partition keeps its N smallest
    hashes per stratum) feeds the exact window, so the shuffle carries
    at most N x n_partitions rows per stratum instead of the whole
    corpus; same final winners because the global top-N is contained
    in the union of per-partition top-Ns.
    """
    d = load_tables(spark, sf_dir).documents
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        d.select("doc_id", "lang")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 50)
        .select("doc_id", "lang")
    )


_O8_ORACLE = """
SELECT doc_id, lang, n_chars
FROM documents
ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
LIMIT 1000
"""


@register("o8_corpus_shuffle", _O8_ORACLE)
def o8_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle: order the training data by
    md5(doc_id) — the reproducible "random" example order a training
    run wants (same order every rerun and every engine, no PRNG state,
    and stable under re-partitioning, unlike orderBy(rand(seed)) whose
    output depends on partition layout).

    The LIMIT keeps the test contract bounded (and plans
    TakeOrderedAndProject — top-k, no global sort materialization);
    the unbounded production form is the same ORDER BY written out,
    which Spark executes as a range-partitioned sort: sample hash
    bounds -> repartitionByRange -> per-partition sort, all
    distributed, no single-task bottleneck. Epoch reshuffles are
    md5(concat(doc_id, epoch)) — a new deterministic permutation per
    epoch with zero state carried between them.
    """
    d = load_tables(spark, sf_dir).documents
    return (
        d.select("doc_id", "lang", "n_chars")
        .orderBy(F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc())
        .limit(1000)
    )


def _o9_oracle() -> str:
    from hive_to_es_spark.operators.text_ext import QUALITY_CTE_SQL

    return f"""
WITH {QUALITY_CTE_SQL},
drawn AS (
  SELECT lang, quality,
         ({md5_60_sql("doc_id")} % 1000000) AS draw
  FROM scored
)
SELECT lang,
       count(*) AS n_total,
       CAST(count(*) FILTER (draw < quality * 1000000) AS BIGINT) AS n_kept,
       CAST(sum(CAST(round(quality * 1000000) AS BIGINT)) // count(*) AS BIGINT) AS avg_q6_all,
       CAST(sum(CAST(round(quality * 1000000) AS BIGINT)) FILTER (draw < quality * 1000000)
             // (count(*) FILTER (draw < quality * 1000000)) AS BIGINT) AS avg_q6_kept
FROM drawn GROUP BY lang
"""


@register("o9_weighted_sample", _o9_oracle())
def o9_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted downsampling: keep each document with
    probability equal to its t4 quality score, decided by a
    DETERMINISTIC per-key hash draw (o4's md5 bucket at 1e-6
    resolution) instead of a PRNG — the data-mixing primitive for
    "sample better data more" (quality-proportional corpus thinning),
    reproducible across engines, reruns, repartitioning and appends.

    Per-language accounting shows the effect: avg quality of the kept
    set exceeds the population average by construction. Pure
    scan-side predicate — no shuffle for the sampling decision itself,
    one partial agg for the report; at 100 TB this composes with any
    downstream op as a free filter. Shares quality_expr/QUALITY_CTE_SQL
    with t4 so the weight definition cannot drift from the scorer."""
    from hive_to_es_spark.operators.text_ext import quality_expr

    d = load_tables(spark, sf_dir).documents
    quality, _ = quality_expr()
    draw = hash_bucket("doc_id", 1_000_000)
    kept = draw < quality * 1_000_000
    return (
        d.select("lang", quality.alias("quality"), kept.alias("kept"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            F.count_if("kept").cast("bigint").alias("n_kept"),
            # Averages reported in integer micro-units (floor of
            # sum/n): the fr group's kept-average is EXACTLY 764760.5
            # micro-units, i.e. a .5 rounding boundary at 6dp where
            # Spark and DuckDB double-rounding legitimately split —
            # integer floor division is the only representation both
            # engines get bit-identical. (Consumers divide by 1e6.)
            # Exactness bound: double division before the floor is
            # exact while the group's micro-unit sum < 2^53 (~9e15 =
            # 9e9 docs per group at avg quality); beyond that, move
            # the division to an outer select with `a DIV b`.
            (
                F.sum(F.round(F.col("quality") * 1_000_000).cast("bigint"))
                .cast("bigint") / F.count("*")
            ).cast("bigint").alias("avg_q6_all"),
            (
                F.sum(F.when(F.col("kept"),
                             F.round(F.col("quality") * 1_000_000).cast("bigint")))
                .cast("bigint") / F.count_if("kept")
            ).cast("bigint").alias("avg_q6_kept"),
        )
    )



_O10_ORACLE = f"""
WITH counts AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS c FROM documents GROUP BY lang
),
weights AS (
  SELECT lang, c, CAST(floor(sqrt(c) * 1000000) AS BIGINT) AS w FROM counts
),
quota AS (
  SELECT lang,
         CAST((100 * w * 1000000) // ((SELECT sum(w) FROM weights) * c)
              AS BIGINT) AS thresh_ppm
  FROM weights
)
SELECT d.doc_id, d.lang, q.thresh_ppm
FROM documents d JOIN quota q ON d.lang = q.lang
WHERE {md5_60_sql("d.doc_id")} % 1000000 < q.thresh_ppm
"""


@register("o10_temperature_mix", _O10_ORACLE)
def o10_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language re-sampling (alpha = 0.5): each
    language's keep-probability is proportional to count^alpha / count,
    so low-resource languages are up-weighted relative to their corpus
    share — the multilingual mixing step of an LLM data pipeline
    (the p(L) ∝ |L|^alpha schedule popularized by multilingual
    pretraining; alpha=0.5 chosen because sqrt is the one power both
    engines round identically — IEEE-754 sqrt is correctly rounded,
    pow(x, a) is not).

    All quota math is exact integer arithmetic: weight =
    floor(sqrt(c)*1e6) as bigint, keep-threshold in ppm via bigint
    DIV — no float sum ever crosses the engine boundary (the
    [[spark-duckdb-oracle-gotchas]] float-sum-order trap). Selection
    is a scan-side hash-threshold predicate (same md5 bucket as o4):
    linear, shuffle-free over the corpus; the only shuffle is the
    5-row language census, which then broadcasts back. Expected
    sample size is the 100-doc budget; realized size is binomial
    around it — the honest semantics of probabilistic temperature
    sampling (contrast o7's exact per-stratum caps for the
    rank-exact variant of this shape)."""
    d = load_tables(spark, sf_dir).documents
    counts = d.groupBy("lang").agg(F.count("*").cast("bigint").alias("c"))
    weights = counts.withColumn(
        "w", F.floor(F.sqrt("c") * F.lit(1_000_000.0)).cast("bigint")
    )
    sumw = weights.agg(F.sum("w").cast("bigint").alias("sw"))
    quota = weights.crossJoin(F.broadcast(sumw)).selectExpr(
        # DECIMAL widening: w*1e8 wraps bigint at ~9.2e10 words in one
        # lang — a 100 TB corpus has ~1e13 (round-11 review)
        "lang", "CAST(CAST(100 AS DECIMAL(38,0)) * w * 1000000 DIV (CAST(sw AS DECIMAL(38,0)) * c) AS BIGINT) AS thresh_ppm"
    )
    return (
        d.join(F.broadcast(quota), "lang")
        .filter(hash_bucket("doc_id", 1_000_000) < F.col("thresh_ppm"))
        .select("doc_id", "lang", "thresh_ppm")
    )


def prefix_fingerprint(text_col: str = "text"):
    """The shared 8-word-prefix near-dup group key (o11's class, also
    o13's leakage boundary — ONE spelling so widening the prefix can
    never silently desynchronize the two operators' contracts).
    NULL-safe to match the SQL oracles: md5(NULL text) stays NULL
    (DuckDB's array_to_string(string_split(NULL)) is NULL), where a
    bare concat_ws would fold NULL texts into the empty-string
    group."""
    c = F.col(text_col)
    prefix = F.concat_ws(" ", F.slice(F.split(F.lower(c), " "), 1, 8))
    return F.when(c.isNotNull(), F.md5(prefix))


# o11 — duplicate-aware downsampling: unique content passes at full
# rate; duplicated content is thinned to ~ONE expected survivor per
# duplicate group (keep-probability floor(1e6/|group|) ppm on the o4
# deterministic doc_id draw). The soft form of dedup used when the
# mixture should LOOK deduplicated without hard-deleting: survivors
# stay a uniform random choice per group, reproducible under reruns
# because draw and group key are both content-deterministic. Group key
# is the 8-word-prefix md5 — the "same article, different tail" class
# exact-hash dedup (d1) misses and full near-dup (d12) pays a pair
# stream for; one window count over the prefix hash is the entire
# grouping cost. Note the documented instability under growth: a
# group's size (hence its members' keep threshold) changes as the
# corpus grows — by design, the thinning tracks the CURRENT corpus.
_O11_ORACLE = f"""
WITH g AS (
  SELECT doc_id,
         CAST(count(*) OVER (
           PARTITION BY md5(array_to_string(string_split(lower(text), ' ')[1:8], ' '))
         ) AS BIGINT) AS group_size
  FROM documents
)
SELECT doc_id, group_size FROM g
WHERE {md5_60_sql("doc_id")} % 1000000 < 1000000 // group_size
"""


@register("o11_dup_aware_sample", _O11_ORACLE)
def o11_dup_aware_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-aware downsampling (see module comment above): keep
    each doc iff its deterministic ppm draw clears floor(1e6/|group|),
    |group| counted over the 8-word-prefix fingerprint.

    Plan: one shuffle on the prefix md5 for the window count (groups
    are tiny — prefix collisions, never a skew key), then a scan-side
    integer threshold filter; nothing else. At 100 TB both the group
    census and the filter are map-side expressions around that single
    exchange; swapping the prefix for any other content fingerprint
    (t6's rolling hash, a minhash band) keeps the plan identical."""
    d = load_tables(spark, sf_dir).documents
    w = Window.partitionBy(prefix_fingerprint())
    g = d.select("doc_id", F.count("*").over(w).cast("bigint").alias("group_size"))
    return g.filter(
        hash_bucket("doc_id", 1_000_000) < F.expr("1000000 DIV group_size")
    )


# o12 — fractional-epoch upsampling: the inverse of o10's thinning.
_O12_ORACLE = f"""
WITH census AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS c FROM documents GROUP BY lang
),
mx AS (SELECT CAST(max(c) AS BIGINT) AS mc FROM census),
q AS (
  SELECT lang, least((mc * 1000000) // c, 4000000) AS wppm
  FROM census, mx
),
d AS (
  SELECT doc_id, documents.lang,
         wppm // 1000000
         + CASE WHEN {md5_60_sql("doc_id")} % 1000000 < wppm % 1000000
                THEN 1 ELSE 0 END AS n_copies
  FROM documents JOIN q USING (lang)
)
SELECT doc_id, lang, CAST(unnest(range(1, n_copies + 1)) AS BIGINT) AS copy_idx
FROM d
"""


@register("o12_epoch_upsample", _O12_ORACLE)
def o12_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional-epoch upsampling: replicate low-resource languages
    toward parity with the largest one, capped at 4 epochs — the
    "repeat the good data" step of an LLM mixture (a weight of 2.3
    epochs means 2 full copies plus a 30% chance of a third), the
    upward twin of o10's temperature THINNING.

    The fractional epoch is decided by the same content-deterministic
    md5 draw as o4/o10 — floor(w) copies for everyone, one extra when
    hash_ppm(doc_id) < frac(w)*1e6 — so reruns, engine swaps and
    incremental appends reproduce the exact same replica set (a PRNG
    would re-roll history on every append). All quota math is bigint
    ppm: weight_ppm = min((max_c * 1e6) DIV c, 4e6), never a float.
    Scale shape: the census is |langs| rows, broadcast back; the
    replication itself is a scan-side explode(sequence(1, n)) — rows
    multiply AFTER the scan with no shuffle at all, and downstream
    consumers see copy_idx to salt per-epoch transforms. The oracle
    mirrors the explode with DuckDB's scalar range() list unnest
    (table-function range rejects per-row bounds)."""
    d = load_tables(spark, sf_dir).documents
    census = d.groupBy("lang").agg(F.count("*").cast("bigint").alias("c"))
    mx = census.agg(F.max("c").cast("bigint").alias("mc"))
    quota = census.crossJoin(F.broadcast(mx)).selectExpr(
        # DECIMAL widening: mc*1e6 wraps bigint at ~9.2e12 docs in the
        # largest lang (round-11 review)
        "lang", "least(CAST(mc AS DECIMAL(38,0)) * 1000000 DIV c, 4000000) AS wppm"
    )
    n_copies = F.expr("wppm DIV 1000000") + F.when(
        hash_bucket("doc_id", 1_000_000) < F.col("wppm") % 1_000_000, 1
    ).otherwise(0)
    return (
        d.join(F.broadcast(quota), "lang")
        .withColumn("n_copies", n_copies.cast("bigint"))
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.sequence(F.lit(1).cast("bigint"), F.col("n_copies"))
            ).alias("copy_idx"),
        )
    )


# o13 — leakage-free GROUP-level split: o5 assigns splits by doc_id,
# so two near-duplicate documents can land in train AND test (eval
# leakage — the exact failure t9's decontamination exists to catch
# after the fact). o13 prevents it by construction: the split is a
# pure function of the GROUP fingerprint (o11's 8-word-prefix class),
# so every member of a dup group rides together.
_O13_ORACLE = f"""
WITH g AS (
  SELECT doc_id,
         md5(array_to_string(string_split(lower(text), ' ')[1:8], ' ')) AS gkey,
         CAST(count(*) OVER (
           PARTITION BY md5(array_to_string(string_split(lower(text), ' ')[1:8], ' '))
         ) AS BIGINT) AS group_size
  FROM documents
)
SELECT doc_id, group_size,
       CASE WHEN {md5_60_sql("gkey")} % 100 < 90
            THEN 'train'
            WHEN {md5_60_sql("gkey")} % 100 < 95
            THEN 'val'
            ELSE 'test' END AS split
FROM g
"""


@register("o13_group_split", _O13_ORACLE)
def o13_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val/test split: the 90/5/5 bucket is drawn
    from the hash of the GROUP fingerprint (8-word-prefix md5, o11's
    near-dup class), not the row id — all members of a duplicate
    group provably share a split, where o5's row-level draw lets
    near-duplicates straddle train and test and leak eval content
    into training. The standard fix in LLM data pipelines (split by
    cluster/URL/domain, never by row).

    The assignment itself is a ZERO-shuffle scan-side expression (a
    pure function of the text prefix — stable under appends, reruns,
    and engine swaps, like o4/o5); the single Exchange here only
    serves the group_size window, kept because the size column is
    what makes the leakage guarantee auditable (a (group, split)
    distinct-count == group count check rides on it, see tests).
    Swapping the fingerprint for d12's connected-component id turns
    this into transitive-closure-level isolation with the same plan."""
    d = load_tables(spark, sf_dir).documents
    g = d.select(
        "doc_id",
        prefix_fingerprint().alias("gkey"),
    ).withColumn(
        "group_size",
        F.count("*").over(Window.partitionBy("gkey")).cast("bigint"),
    )
    b = hash_bucket(F.col("gkey"), 100)
    return g.select(
        "doc_id",
        "group_size",
        F.when(b < 90, "train").when(b < 95, "val").otherwise("test").alias("split"),
    )


# ---------------------------------------------------------------------------
# o14: token-budget mixture cut — the "assemble exactly B training
# tokens" step. o6/o10 sample DOCUMENTS at per-stratum rates; a real
# pretraining mix is specified in TOKENS: a global budget (40% of the
# corpus here) split across sources by temperature weights
# (w_s ∝ sqrt(token_mass), o10's alpha = 0.5 — sqrt because IEEE-754
# sqrt is the one power both engines round identically), then each
# source contributes its docs greedily in portable hash order until
# its budget fills. Greedy-prefix-by-hash keeps the cut deterministic,
# append-stable (o4's rule: a kept doc stays kept unless its source's
# budget tightens) and auditable (the cut point is a cumulative token
# count, not a PRNG state).
#
# The greedy prefix needs a per-source RUNNING token sum in hash
# order. Sources are LOW-cardinality, so a plain per-source window is
# w7's 3-task ceiling; this op runs w20's two-pass carry-in plan over
# a FIXED domain instead — the 60-bit hash space pre-splits into
# _O14_N_RANGES arithmetic ranges (no min/max scan: the domain is a
# constant, zero extra jobs), per-(source, range) token sums collect
# (|sources| x |ranges| rows of driver state) and prefix into
# carry-ins, and the within-range running sum + carry-in is the exact
# global per-source cumulative. Parallelism = |sources| x |ranges|,
# decoupled from source cardinality (w8's donor-bucket insight
# applied to mixture building); budget arithmetic is DECIMAL(38,0)
# integer DIV (never wraps, never floats).
# ---------------------------------------------------------------------------

_O14_N_RANGES = 16
_O14_HBITS = 60  # md5_60 values lie in [0, 2^60)

_O14_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
         {md5_60_sql("doc_id")} AS h
  FROM documents
),
per_src AS (
  SELECT source, CAST(sum(tok) AS BIGINT) AS tok_total FROM toks GROUP BY source
),
wts AS (
  SELECT source, tok_total,
         CAST(floor(sqrt(CAST(tok_total AS DOUBLE)) * 1000000) AS BIGINT) AS w
  FROM per_src
),
tot AS (SELECT sum(w) AS sw, sum(tok_total) AS gt FROM wts),
budgets AS (
  SELECT source, tok_total,
         CAST(CAST(gt AS HUGEINT) * 2 * w // (CAST(sw AS HUGEINT) * 5)
              AS BIGINT) AS budget_tok
  FROM wts, tot
),
cum AS (
  SELECT source, doc_id, tok,
         sum(tok) OVER (PARTITION BY source ORDER BY h, doc_id
                        ROWS UNBOUNDED PRECEDING) AS ctok
  FROM toks
)
SELECT b.source, b.tok_total, b.budget_tok,
       CAST(count(*) FILTER (WHERE ctok <= budget_tok) AS BIGINT) AS n_kept,
       CAST(coalesce(sum(tok) FILTER (WHERE ctok <= budget_tok), 0)
            AS BIGINT) AS kept_tok
FROM cum c JOIN budgets b ON c.source IS NOT DISTINCT FROM b.source
GROUP BY b.source, b.tok_total, b.budget_tok
"""


# Sentinel standing in for a NULL source in the carry-in map key and
# the null-safe budget join key. Contract: no real source value equals
# this string (control characters never appear in source names).
_O14_NULL_KEY = "\x00<null-source>\x00"


def token_budget_mix(d: DataFrame) -> DataFrame:
    """o14's core over a (doc_id, source, text) frame — factored from
    the registered op so edge geometries (NULL source stratum, budget
    boundary ties) can be pinned on synthetic inputs (round-11
    ADVICE: concat_ws skips NULLs, so a NULL source's carry key
    collided with nothing and the stratum silently vanished; the key
    and the budget join are now null-safe via _O14_NULL_KEY /
    eqNullSafe). See the block comment above for the two-pass
    fixed-domain plan."""
    toks = d.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("tok"),
        md5_60("doc_id").alias("h"),
    )
    weights = (
        toks.groupBy("source")
        .agg(F.sum("tok").alias("tok_total"))
        .select(
            "source",
            "tok_total",
            F.floor(F.sqrt(F.col("tok_total").cast("double")) * 1e6)
            .cast("bigint")
            .alias("w"),
        )
    )
    tot = weights.agg(F.sum("w").alias("sw"), F.sum("tok_total").alias("gt"))
    budgets = (
        weights.crossJoin(F.broadcast(tot))
        .selectExpr(
            "source",
            "tok_total",
            "CAST(CAST(gt AS DECIMAL(38,0)) * 2 * w"
            " DIV (CAST(sw AS DECIMAL(38,0)) * 5) AS BIGINT) AS budget_tok",
        )
    )
    # fixed-domain ranges: 2^60 divides evenly by 16, so DIV is exact
    width = (1 << _O14_HBITS) // _O14_N_RANGES
    ranged = toks.withColumn(
        "_pid", ((F.col("h") - F.col("h") % width) / width).cast("int")
    )
    # pass 1: per-(source, range) token sums -> per-source prefix
    # carry-ins (bounded driver state: |sources| x |ranges| rows)
    sums: dict = {}
    for r in ranged.groupBy("source", "_pid").agg(F.sum("tok").alias("_s")).collect():
        sums.setdefault(r["source"], []).append((r["_pid"], r["_s"]))
    carry_entries: list = []
    for src, pids in sums.items():
        acc = 0
        skey = _O14_NULL_KEY if src is None else src
        for pid, s in sorted(pids):
            carry_entries += [F.lit(f"{skey}|{pid}"), F.lit(acc)]
            acc += s or 0  # a range of NULL-text docs sums to NULL
    carry = F.element_at(
        F.create_map(*carry_entries),
        F.concat_ws(
            "|", F.coalesce(F.col("source"), F.lit(_O14_NULL_KEY)), F.col("_pid")
        ),
    )
    # pass 2: within-range running sum + carry-in = exact per-source
    # cumulative token count in global hash order (a NULL source is one
    # partition group like any other). A NULL-text doc has a NULL tok;
    # the global window's sum stays NULL until the first token, and a
    # non-NULL text has at least one token, so a zero carry before a
    # NULL within-range sum means no token came yet.
    w_run = Window.partitionBy("source", "_pid").orderBy(
        F.col("h").asc(), F.col("doc_id").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    within = F.sum("tok").over(w_run)
    cum = ranged.withColumn(
        "ctok",
        F.when(within.isNull() & (carry == 0), F.lit(None)).otherwise(
            F.coalesce(within, F.lit(0)) + carry
        ),
    )
    keep = F.col("ctok") <= F.col("budget_tok")
    b = F.broadcast(
        budgets.select(
            F.col("source").alias("_bsrc"), "tok_total", "budget_tok"
        )
    )
    return (
        cum.join(b, F.col("source").eqNullSafe(F.col("_bsrc")))
        .groupBy("source", "tok_total", "budget_tok")
        .agg(
            F.count_if(keep).cast("bigint").alias("n_kept"),
            F.coalesce(F.sum(F.when(keep, F.col("tok"))), F.lit(0))
            .cast("bigint")
            .alias("kept_tok"),
        )
    )


@register("o14_token_budget_mix", _O14_ORACLE)
def o14_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture cut: 40% of the corpus' tokens, split
    across sources by sqrt-temperature weights, filled greedily per
    source in portable hash order (see the block comment for the
    two-pass fixed-domain plan). Output: one audit row per source
    (source, tok_total, budget_tok, n_kept, kept_tok); the oracle
    restates the greedy prefix as the naive per-source window, so the
    hash gate proves the carry-in composition exact."""
    return token_budget_mix(load_tables(spark, sf_dir).documents)


# ---------------------------------------------------------------------------
# o15: CCNet perplexity-bucket mixture (Wenzek et al. 2020, "CCNet:
# Extracting High Quality Monolingual Datasets from Web Crawl Data")
# — THE most-used mixture recipe over an LM quality score: partition
# the corpus into head / middle / tail buckets at the global 1/3 and
# 2/3 quantile boundaries of a unigram-LM score (high score = low
# perplexity = head), then keep each bucket at a different rate
# (head 100%, middle 50%, tail 10% here) via o9's deterministic md5
# draw. Output: one accounting row per bucket.
#
# SCORING MODEL (recipe re-planned in round 14, VERDICT r13 task 1):
# t25's top-K broadcast vocabulary + OOV floor (lm_topk_doc_scores),
# NOT t8's full-tail self-frequency join. CCNet scores with a TRAINED
# LM — a capped vocabulary with an unknown-word bucket is the
# trained-model form (a KenLM vocab is finite), so this is MORE
# faithful to the paper, and it deletes the one scale-killer the r13
# verdict flagged: t8's score join keys the exploded corpus on the
# corpus-sized word-frequency tail (a word-keyed corpus shuffle),
# while the t25 model is K rows REGARDLESS of corpus size and rides a
# broadcast — the corpus never shuffles to be scored. (t8 keeps the
# exact-self-scoring contract deliberately; its docstring names t25
# as the production path.)
#
# Decision-grade score: the 4-dp-rounded mean log-prob, lifted to an
# INTEGER fixed-point (x 10^4) so every boundary compare is integer —
# the two engines produce bit-identical 4-dp doubles (t25's hash gate
# proves it at every SF), so round(score4 * 10000) is the same bigint
# in both. NULL-text docs drop out of scoring in both engines
# (explode/unnest of NULL emits no rows — t8's own contract).
#
# PLAN (the t20 census-first discipline — no corpus sort, ever):
#   1. per-doc scores = t25's census -> TakeOrderedAndProject top-K
#      vocab -> BroadcastHashJoin score probe, materialized ONCE via
#      localCheckpoint (doc_id + one bigint: ~16 B/doc; a shared lazy
#      subtree would re-instantiate the whole scoring plan for census
#      AND decision — the lambda-CSE/shared-subtree pitfall, 4 corpus
#      scans instead of 2). The lazy stage is exposed as o15_scores()
#      so the plan test pins no-SortMergeJoin/no-ShuffledHashJoin on
#      the exploded words (t25's pin).
#   2. score census: groupBy(score_fp) — bounded by the score VALUE
#      domain (4-dp LM scores span a few score units, ~1e5 distinct
#      cells at any corpus size), the t20 exemption class.
#   3. one single-partition running sum over the census finds BOTH
#      boundaries (t_head = highest score whose cumulative count
#      reaches ceil(n/3); t_mid at ceil(2n/3)); the whole boundary-
#      score tie group lands in the better bucket, so bucketing is a
#      pure function of score_fp — no per-doc rank needed at all
#      (this is where o15 is CHEAPER than t20: no tie-splitting).
#   4. the 1-row boundary frame broadcasts back onto the checkpointed
#      scores; bucket + keep-draw are scan-side expressions; final
#      map-combined groupBy(bucket) emits <=3 rows.
# The oracle restates the boundaries via the NAIVE global
# row_number sort (rank ceil(n/3)'s score IS the highest score whose
# cumulative count reaches the quota — different algorithm, same
# boundary), so a census bug cannot hide in a mirrored oracle.
# ---------------------------------------------------------------------------

_O15_RATE_PPM = {"head": 1_000_000, "middle": 500_000, "tail": 100_000}


def _o15_k() -> int:
    # one K for t25 and o15 — drift would silently decouple the two
    # scorers' contracts (local import: sort_set loads before text_ext
    # in operators/__init__, and text_ext's own sort_set imports are
    # function-level, so this direction is cycle-safe)
    from hive_to_es_spark.operators.text_ext import _T25_K

    return _T25_K


_O15_ORACLE = f"""
WITH words AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
  FROM documents
),
freq AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM words GROUP BY w),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM freq),
vocab AS (SELECT w, c FROM freq ORDER BY c DESC, w ASC LIMIT {_o15_k()}),
unk AS (
  SELECT t.t - (SELECT CAST(sum(c) AS BIGINT) FROM vocab) AS c_unk, t.t AS t
  FROM tot t
),
s AS (
  SELECT wo.doc_id,
         CAST(round(round(avg(ln(coalesce(v.c, u.c_unk) / u.t)), 4) * 10000)
              AS BIGINT) AS score_fp
  FROM words wo LEFT JOIN vocab v ON wo.w = v.w, unk u
  GROUP BY wo.doc_id
),
r AS (
  SELECT doc_id, score_fp,
         row_number() OVER (ORDER BY score_fp DESC, doc_id ASC) AS rn,
         count(*) OVER () AS n
  FROM s
),
b AS (
  SELECT
    max(CASE WHEN rn = CAST(ceil(n / 3.0) AS BIGINT)
             THEN score_fp END) AS t_head,
    max(CASE WHEN rn = CAST(ceil(2 * n / 3.0) AS BIGINT)
             THEN score_fp END) AS t_mid
  FROM r
),
d AS (
  SELECT doc_id, score_fp,
         CASE WHEN score_fp >= t_head THEN 'head'
              WHEN score_fp >= t_mid THEN 'middle'
              ELSE 'tail' END AS bucket
  FROM s, b
),
k AS (
  SELECT bucket, score_fp,
         ({md5_60_sql("doc_id")} % 1000000)
           < CASE bucket WHEN 'head' THEN {_O15_RATE_PPM['head']}
                         WHEN 'middle' THEN {_O15_RATE_PPM['middle']}
                         ELSE {_O15_RATE_PPM['tail']} END AS kept
  FROM d
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (kept) AS BIGINT) AS n_kept,
       min(score_fp) AS min_score_fp,
       max(score_fp) AS max_score_fp
FROM k GROUP BY bucket
"""


def perplexity_buckets(
    scores: DataFrame,
    rates_ppm: dict[str, int] = _O15_RATE_PPM,
) -> DataFrame:
    """o15's census -> boundary -> bucket -> draw core over an
    ALREADY-MATERIALIZED (doc_id, score_fp) frame, factored so edge
    geometries (all-equal scores, 1-2 docs, boundary ties) can be
    pinned on synthetic inputs. Higher score_fp = better (head)."""
    census = scores.groupBy("score_fp").agg(F.count("*").alias("n_s"))
    totals = census.agg(F.sum("n_s").alias("n_total"))
    w_cum = Window.orderBy(F.col("score_fp").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = census.crossJoin(F.broadcast(totals)).withColumn(
        "cum", F.sum("n_s").over(w_cum)
    )
    bounds = cum.agg(
        F.max(
            F.when(
                F.col("cum") >= F.ceil(F.col("n_total") / 3.0),
                F.col("score_fp"),
            )
        ).alias("t_head"),
        F.max(
            F.when(
                F.col("cum") >= F.ceil(2.0 * F.col("n_total") / 3.0),
                F.col("score_fp"),
            )
        ).alias("t_mid"),
    )
    bucket = (
        F.when(F.col("score_fp") >= F.col("t_head"), "head")
        .when(F.col("score_fp") >= F.col("t_mid"), "middle")
        .otherwise("tail")
    )
    rate = (
        F.when(F.col("bucket") == "head", F.lit(rates_ppm["head"]))
        .when(F.col("bucket") == "middle", F.lit(rates_ppm["middle"]))
        .otherwise(F.lit(rates_ppm["tail"]))
    )
    return (
        scores.crossJoin(F.broadcast(bounds))
        .withColumn("bucket", bucket)
        .withColumn("kept", hash_bucket("doc_id", 1_000_000) < rate)
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count_if("kept").cast("bigint").alias("n_kept"),
            F.min("score_fp").alias("min_score_fp"),
            F.max("score_fp").alias("max_score_fp"),
        )
    )


def o15_scores(docs: DataFrame) -> DataFrame:
    """o15's scoring stage, LAZY (exposed so the plan test can pin the
    no-words-shuffle contract directly — the registered op
    materializes it, hiding the scoring plan behind an ExistingRDD):
    t25's broadcast top-K + OOV-floor mean log-prob, lifted to the
    integer fixed-point (x 10^4) bucket-decision grade."""
    from hive_to_es_spark.operators.text_ext import lm_topk_doc_scores

    return lm_topk_doc_scores(docs).select(
        "doc_id",
        F.round(F.col("lm4") * 10000).cast("bigint").alias("score_fp"),
    )


@register("o15_perplexity_buckets", _O15_ORACLE)
def o15_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity-bucket mixture (see the block
    comment): bucket documents at the global 1/3 and 2/3 quantile
    boundaries of the t25 top-K + OOV-floor unigram-LM score (the
    trained-model form — round-14 recipe re-plan off t8's word-keyed
    corpus shuffle) via the t20 census-first exact-quantile plan (no
    corpus sort), keep per-bucket at 100%/50%/10% via o9's
    deterministic md5 draw, and emit per-bucket accounting (n_docs,
    n_kept, score range)."""
    d = load_tables(spark, sf_dir).documents
    return perplexity_buckets(materialize(o15_scores(d)))
