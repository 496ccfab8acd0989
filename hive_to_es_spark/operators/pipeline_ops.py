"""Pipeline-layer operators (SURVEY.md §2.A p1-p8, §2.B b1) — the
reference tool's own processing stages, registered as checkable
queries. The composable job machinery lives in
hive_to_es_spark.pipeline; these wrappers pin each stage's semantics
to an oracle.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hive_to_es_spark.functions.hashing import hash_bucket, md5_60_sql
from hive_to_es_spark.functions.money import sum_cents
from hive_to_es_spark.io import load_tables
from hive_to_es_spark.operators.windows import ranged_running_sum
from hive_to_es_spark.pipeline import TMP_ROOT, Job, run_job, run_jobs
from hive_to_es_spark.registry import register

_P1_ORACLE = "SELECT * FROM supplier"


@register("p1_full_scan", _P1_ORACLE)
def p1_full_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-import source stage: SELECT * of a named table (the
    reference's full mode re-reads everything). The source location
    may also be "catalog:<db>" to resolve through the session catalog
    (io.populate_catalog / spark.table — the production Hive-table
    source model, exercised end to end in tests/test_catalog.py)."""
    from hive_to_es_spark.pipeline import build_source

    return build_source(spark, sf_dir, Job(name="p1", source_table="supplier"))


_P2_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
FROM orders
WHERE o_orderdate >= TIMESTAMP '2001-06-01'
"""


@register("p2_incremental_filter", _P2_ORACLE)
def p2_incremental_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-import source stage: the config-supplied date
    predicate lands in the scan (partition pruning in production)."""
    from hive_to_es_spark.pipeline import apply_transforms, build_source

    job = Job(
        name="p2",
        source_table="orders",
        incremental_filter="o_orderdate >= TIMESTAMP '2001-06-01'",
        columns={
            "o_orderkey": "o_orderkey",
            "o_custkey": "o_custkey",
            "o_totalprice": "o_totalprice",
            "o_orderdate": "o_orderdate",
        },
    )
    return apply_transforms(build_source(spark, sf_dir, job), job)


_P3_ORACLE = """
SELECT o_orderkey AS order_id,
       o_totalprice AS amount,
       upper(o_orderstatus) AS status
FROM orders
"""


@register("p3_project_rename", _P3_ORACLE)
def p3_project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection/rename stage: config column mapping -> ES doc fields."""
    from hive_to_es_spark.pipeline import apply_transforms, build_source

    job = Job(
        name="p3",
        source_table="orders",
        columns={
            "order_id": "o_orderkey",
            "amount": "o_totalprice",
            "status": "upper(o_orderstatus)",
        },
    )
    return apply_transforms(build_source(spark, sf_dir, job), job)


_P4_ORACLE = """
SELECT CAST(o_orderkey AS VARCHAR) AS _id,
       o_orderkey AS order_id,
       o_totalprice AS amount
FROM orders
"""


@register("p4_doc_id", _P4_ORACLE)
def p4_doc_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-id stage: the designated key column becomes the string
    `_id` (idempotent upserts via es.mapping.id in production)."""
    from hive_to_es_spark.pipeline import apply_transforms, build_source

    job = Job(
        name="p4",
        source_table="orders",
        columns={"order_id": "o_orderkey", "amount": "o_totalprice"},
        id_column="order_id",
    )
    return apply_transforms(build_source(spark, sf_dir, job), job)


# Int + string fields only: cross-engine JSON number formatting of
# doubles/timestamps is not byte-stable, int/string serialization is.
_P5_ORACLE = """
SELECT o_orderkey,
       to_json(struct_pack(order_id := o_orderkey,
                           status := o_orderstatus,
                           priority := o_orderpriority)) AS doc
FROM orders
WHERE o_orderkey <= 5000
"""


@register("p5_type_to_json", _P5_ORACLE)
def p5_type_to_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row -> JSON document stage: to_json(struct(...)) is the
    distributed form of the reference's per-row dict -> json.dumps."""
    o = load_tables(spark, sf_dir).orders.filter(F.col("o_orderkey") <= 5000)
    doc = F.to_json(
        F.struct(
            F.col("o_orderkey").alias("order_id"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
        )
    )
    return o.select("o_orderkey", doc.alias("doc"))


# Batching semantics as explicit page assignment. The oracle states
# the semantics with a global row_number; the Spark plan must NOT run
# one (an unpartitioned window moves the whole table through a single
# task — a hard 100 TB scale-killer). The global rank is
# ranged_running_sum over a constant 1 instead.
_P6_ORACLE = """
SELECT batch_id, count(*) AS n_rows, min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
FROM (
  SELECT o_orderkey,
         CAST(floor((row_number() OVER (ORDER BY o_orderkey) - 1) / 1000) AS BIGINT) AS batch_id
  FROM orders
)
GROUP BY batch_id
"""


def page_assign(keys: DataFrame, key_col: str, page_size: int, n_parts: int) -> DataFrame:
    """Batch/page assignment (fetchmany-style `page_size`-row pages)
    with per-batch bounds — bounded sink memory made visible.
    Returns (batch_id, n_rows, min_key, max_key).

    Scale shape: each key's 1-based global rank is ranged_running_sum
    of 1 over `n_parts` key ranges — no global window, nothing
    persisted, identical under recompute.
    """
    ranked = ranged_running_sum(keys.select(key_col), F.lit(1), [key_col], n_parts)
    batch = F.expr(f"(_cum - 1) div {page_size}").cast("bigint")
    return ranked.groupBy(batch.alias("batch_id")).agg(
        F.count("*").alias("n_rows"),
        F.min(key_col).alias("min_key"),
        F.max(key_col).alias("max_key"),
    )


@register("p6_batching", _P6_ORACLE)
def p6_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1000-row page assignment over orders — see page_assign for the
    plan and ranged_running_sum for its determinism story."""
    o = load_tables(spark, sf_dir).orders
    return page_assign(o, "o_orderkey", 1000, spark.sparkContext.defaultParallelism)


def shard_assign(
    df: DataFrame, key_col: str, weight_col: str, budget: int, n_parts: int
) -> DataFrame:
    """Weight-budgeted shard packing: documents in key order are
    packed greedily into shards of ~`budget` total weight (a doc is
    assigned by its STARTING cumulative offset, so a shard may exceed
    budget by at most one doc — standard greedy packing; docs heavier
    than the budget get a shard of their own). This is page_assign
    with a WEIGHT instead of a row count — the training-data form:
    token-budgeted shards for sequence packing, size-budgeted tars for
    WebDataset-style exports. The cumulative weight comes from
    shard_assign_rows. Returns (shard_id, n_docs, total_weight,
    min_key, max_key).
    """
    return (
        shard_assign_rows(df, key_col, weight_col, budget, n_parts)
        .select(key_col, F.col(weight_col).cast("long").alias("_w"), "shard_id")
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_w").cast("bigint").alias("total_weight"),
            F.min(key_col).alias("min_key"),
            F.max(key_col).alias("max_key"),
        )
    )


def shard_assign_rows(
    df: DataFrame, key_col: str, weight_col: str, budget: int, n_parts: int
) -> DataFrame:
    """The PER-ROW form of shard_assign (factored out in round 14 so
    p27 can export the actual shard contents): every input row plus
    its `shard_id` under the same greedy start-offset packing. The
    global cumulative weight is ranged_running_sum over `n_parts` key
    ranges — no global window."""
    weighted = df.withColumn("_srw", F.col(weight_col).cast("long"))
    ranked = ranged_running_sum(weighted, "_srw", [key_col], n_parts)
    # _cum counts this row, so its start offset is _cum - _srw.
    # Integer div keeps both engines exact (no FP floor).
    shard = F.expr(f"(_cum - _srw) div {budget}").cast("bigint")
    return ranked.withColumn("shard_id", shard).drop("_srw", "_cum")


# Token-budget sharding semantics stated as a global running sum; the
# Spark plan must NOT run one (p6's rule). 50k chars ~ a 12.5k-token
# shard at 4 chars/token.
_P12_ORACLE = """
SELECT shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_weight,
       min(doc_id) AS min_key,
       max(doc_id) AS max_key
FROM (
  SELECT doc_id, n_chars,
         CAST((sum(n_chars) OVER (ORDER BY doc_id) - n_chars) // 50000
              AS BIGINT) AS shard_id
  FROM documents
)
GROUP BY shard_id
"""


@register("p12_token_shards", _P12_ORACLE)
def p12_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-budgeted corpus sharding over documents (weight =
    n_chars, 50k per shard) — the packing step that turns a cleaned
    corpus into bounded training shards. See shard_assign for the
    two-pass, no-global-window plan."""
    d = load_tables(spark, sf_dir).documents
    return shard_assign(
        d, "doc_id", "n_chars", 50_000, spark.sparkContext.defaultParallelism
    )


_P7_ORACLE = """
SELECT count(*) AS n,
       CAST(sum(CAST(round(amount * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM (SELECT o_totalprice AS amount FROM orders WHERE o_orderstatus = 'F')
"""


@register("p7_sink_es", _P7_ORACLE)
def p7_sink_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink stage roundtrip: run a full job (source -> transform ->
    parquet sink standing in for the ES bulk writer), then read the
    sink back and checksum it against the source."""
    job = Job(
        name="p7_sink",
        source_table="orders",
        incremental_filter="o_orderstatus = 'F'",
        columns={"amount": "o_totalprice"},
        sink_path=os.path.join(TMP_ROOT, "p7_sink"),
        mode="overwrite",
    )
    run_job(spark, sf_dir, job)
    back = spark.read.parquet(job.sink_path)
    return back.agg(F.count("*").alias("n"), sum_cents("amount").alias("total_cents"))


_P8_ORACLE = """
SELECT 'orders_full' AS job_name, count(*) AS n_rows FROM orders
UNION ALL
SELECT 'orders_recent' AS job_name, count(*) AS n_rows
FROM orders WHERE o_orderdate >= TIMESTAMP '2001-06-01'
"""


@register("p8_job_config", _P8_ORACLE)
def p8_job_config(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-job config runner: two jobs (full + incremental) from one
    config, summary of rows synced per job — the reference's top-level
    loop."""
    jobs = [
        Job(
            name="orders_full",
            source_table="orders",
            columns={"order_id": "o_orderkey", "amount": "o_totalprice"},
            id_column="order_id",
            sink_path=os.path.join(TMP_ROOT, "orders_full"),
        ),
        Job(
            name="orders_recent",
            source_table="orders",
            incremental_filter="o_orderdate >= TIMESTAMP '2001-06-01'",
            columns={"order_id": "o_orderkey", "amount": "o_totalprice"},
            id_column="order_id",
            mode="overwrite",
            sink_path=os.path.join(TMP_ROOT, "orders_recent"),
        ),
    ]
    return run_jobs(spark, sf_dir, jobs)


_B1_ORACLE = """
SELECT count(*) AS n, CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
       count(DISTINCT n_name) AS n_names
FROM nation
"""


@register("b1_csv_json_roundtrip", _B1_ORACLE)
def b1_csv_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV + JSON source/sink parity: write nation to both formats,
    read both back with explicit schemas (never inference — schema
    drift is silent corruption at scale), join on the key, and
    checksum. Any loss/mangling in either format breaks the join."""
    n = load_tables(spark, sf_dir).nation
    csv_path = os.path.join(TMP_ROOT, "b1_nation_csv")
    json_path = os.path.join(TMP_ROOT, "b1_nation_json")
    n.write.mode("overwrite").option("header", True).csv(csv_path)
    n.write.mode("overwrite").json(json_path)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    from_csv = spark.read.schema(schema).option("header", True).csv(csv_path)
    from_json = spark.read.schema(schema).json(json_path).withColumnRenamed("n_name", "j_name")
    joined = from_csv.join(
        from_json.select("n_nationkey", "j_name"), "n_nationkey"
    ).filter(F.col("n_name") == F.col("j_name"))
    return joined.agg(
        F.count("*").alias("n"),
        F.sum("n_nationkey").cast("bigint").alias("key_sum"),
        F.countDistinct("n_name").alias("n_names"),
    )


_B2_ORACLE = """
SELECT o_orderstatus, count(*) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders WHERE o_totalprice > 200000
GROUP BY o_orderstatus
"""


@register("b2_orc_roundtrip", _B2_ORACLE)
def b2_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink parity — Hive's native columnar format (the
    reference's upstream tables would live in it). Write the filtered
    orders to ORC, read back, aggregate; any type mangling in the
    roundtrip breaks the checksum. ORC scans get the same predicate
    pushdown / column pruning treatment as parquet."""
    o = load_tables(spark, sf_dir).orders.filter(F.col("o_totalprice") > 200000)
    path = os.path.join(TMP_ROOT, "b2_orders_orc")
    o.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"), sum_cents("o_totalprice").alias("total_cents")
    )


# The merge result equals: latest version per key across old+new,
# which SQL expresses as a full-outer coalesce. Fixture: "old" = all
# orders; "new" = big orders re-priced +10%.
_P9_ORACLE = """
WITH old AS (SELECT o_orderkey AS k, o_totalprice AS amount FROM orders),
new AS (SELECT o_orderkey AS k, round(o_totalprice * 1.1, 2) AS amount
        FROM orders WHERE o_totalprice > 400000)
SELECT count(*) AS n,
       CAST(sum(CAST(round(coalesce(new.amount, old.amount) * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       CAST(sum(CASE WHEN new.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_updated
FROM old LEFT JOIN new USING (k)
"""


@register("p9_incremental_upsert", _P9_ORACLE)
def p9_incremental_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental upsert-merge — the reference's incremental mode
    against a file sink: write the full dataset, merge a re-priced
    increment by key (updates win), checksum the merged state."""
    from hive_to_es_spark.functions.merge import merge_into_parquet

    o = load_tables(spark, sf_dir).orders
    full = o.select(F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("amount"))
    path = os.path.join(TMP_ROOT, "p9_upsert")
    full.write.mode("overwrite").parquet(path)
    increment = (
        o.filter(F.col("o_totalprice") > 400000)
        .select(
            F.col("o_orderkey").alias("k"),
            F.round(F.col("o_totalprice") * 1.1, 2).alias("amount"),
        )
    )
    merge_into_parquet(spark, path, increment, "k")
    merged = spark.read.parquet(path)
    was_updated = F.when(F.col("amount") != F.col("orig_amount"), 1).otherwise(0)
    orig = full.select(F.col("k"), F.col("amount").alias("orig_amount"))
    return (
        merged.join(orig, "k")
        .agg(
            F.count("*").alias("n"),
            sum_cents("amount").alias("total_cents"),
            F.sum(was_updated).alias("n_updated"),
        )
    )


# p10 — the composed corpus-cleaning pipeline in ONE declarative plan:
# quality gate (t4's formula) -> exact dedup keeping the min doc_id per
# normalized-text hash -> reproducible hash split (o5) -> per-(split,
# lang) accounting. Every stage is a SQL-expressible transformation, so
# the WHOLE pipeline is value-verified end-to-end.
_P10_ORACLE = f"""
WITH feats AS (
  SELECT doc_id, lang, text,
         len(string_split(text, ' ')) AS n_tokens,
         round(0.4 * least(len(string_split(text, ' ')) / 50.0, 1.0)
             + 0.3 * (1.0 - round(CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                                  / n_chars, 6))
             + 0.3 * least(round(CAST(len(list_filter(string_split(text, ' '),
                        w -> list_contains(['a','the','of','and','in','to','is','on','for','with'], w))) AS DOUBLE)
                   / len(string_split(text, ' ')), 6) * 5.0, 1.0), 6) AS quality
  FROM documents
),
kept AS (SELECT * FROM feats WHERE quality >= 0.5),
dedup AS (
  SELECT doc_id, lang, n_tokens, quality FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(lower(text)) ORDER BY doc_id) AS rn
    FROM kept
  ) ranked WHERE rn = 1
),
assigned AS (
  SELECT lang, n_tokens, quality,
         CASE WHEN bucket < 90 THEN 'train'
              WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
  FROM (
    SELECT *, {md5_60_sql("doc_id")} % 100 AS bucket
    FROM dedup
  ) bucketed
)
SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(avg(quality), 6) AS avg_quality
FROM assigned GROUP BY split, lang
"""


@register("p10_corpus_pipeline", _P10_ORACLE)
def p10_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus cleaning as one Catalyst plan:
    quality gate (quality_expr, t4's formula) -> exact dedup keeping
    the min doc_id per md5(lower(text)) -> deterministic 90/5/5 hash
    split (hash_bucket, o5) -> per-(split, lang) doc/token/quality
    accounting.

    Plan shape at 100 TB: the quality gate is scan-side expression
    work; dedup is ONE hash-partitioned window (partitioned by the
    16-byte digest — never a global sort, and only the digest + doc
    metadata shuffle); split assignment is a pure projection; the
    final agg has split x lang = 15 groups, collapsing map-side. The
    fixture has no exact dups, so the window is pass-through here —
    the keep-min-id semantics are proven with injected duplicates in
    tests/test_pipeline.py (the e5 pattern)."""
    from hive_to_es_spark.operators.text_ext import quality_expr

    d = load_tables(spark, sf_dir).documents
    quality, n_tokens = quality_expr()
    feats = d.select(
        "doc_id", "lang", "text",
        n_tokens.alias("n_tokens"), quality.alias("quality"),
    )
    kept = feats.filter(F.col("quality") >= 0.5)
    w = Window.partitionBy(F.md5(F.lower("text"))).orderBy("doc_id")
    dedup = (
        kept.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "text")
    )
    b = hash_bucket("doc_id")
    split = F.when(b < 90, "train").when(b < 95, "val").otherwise("test")
    return (
        dedup.select(split.alias("split"), "lang", "n_tokens", "quality")
        .groupBy("split", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.round(F.avg("quality"), 6).alias("avg_quality"),
        )
    )


# p11 — incremental dedup against a PERSISTED hash index: the
# production corpus-growth pattern (each sync batch is checked against
# the hashes of everything already ingested; only unseen content is
# appended, and the index grows by exactly the accepted docs).
# Fixture split: "already ingested" = doc_id < 250; the incoming batch
# re-delivers 200-249 (overlap — realistic at-least-once delivery)
# plus the genuinely new 250+. The oracle expresses the same logic
# with no file state: an anti join on content hash.
_P11_ORACLE = """
WITH existing AS (
  SELECT DISTINCT md5(lower(text)) AS h FROM documents WHERE doc_id < 250
),
incoming AS (
  SELECT doc_id, md5(lower(text)) AS content_hash
  FROM documents WHERE doc_id >= 200
),
batch_first AS (
  SELECT doc_id, content_hash FROM (
    SELECT *, row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn
    FROM incoming
  ) r WHERE rn = 1
)
SELECT doc_id, content_hash
FROM batch_first
WHERE content_hash NOT IN (SELECT h FROM existing)
"""


@register("p11_incremental_dedup", _P11_ORACLE)
def p11_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup via a persisted content-hash index: write the
    index of already-ingested docs to parquet, then accept from the
    incoming batch only (a) the first occurrence of each content hash
    within the batch (min doc_id window — a batch can self-duplicate)
    and (b) hashes absent from the read-back index (left-anti join).

    Scale posture: the index holds 16-byte digests, not documents —
    at 100 TB of corpus it is ~1/1000th the data, partitioned by hash;
    the anti join shuffles digests only, and the accepted set is
    appended back to the same index (the p9 merge path)."""
    d = load_tables(spark, sf_dir).documents
    h = F.md5(F.lower("text"))
    index_path = os.path.join(TMP_ROOT, "p11_hash_index")
    (
        d.filter(F.col("doc_id") < 250)
        .select(h.alias("h"))
        .distinct()
        .write.mode("overwrite")
        .parquet(index_path)
    )
    incoming = d.filter(F.col("doc_id") >= 200).select(
        "doc_id", h.alias("content_hash")
    )
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    batch_first = (
        incoming.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    index = spark.read.parquet(index_path)
    return batch_first.join(
        index, batch_first.content_hash == index.h, "left_anti"
    )


# b3 — partition pruning as a first-class, value-verified op: a date-
# partitioned sink (Hive-style year=YYYY directories) read back with a
# partition filter must scan ONLY the matching directory. The oracle
# computes the same aggregate from the unpartitioned source.
_B3_ORACLE = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders
WHERE year(o_orderdate) = 1998
GROUP BY o_orderstatus
"""


@register("b3_partition_pruning", _B3_ORACLE)
def b3_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned sink + pruned read-back: orders written
    partitionBy(year), re-read with year = 1998 — Spark's partition
    discovery turns the filter into directory pruning (PartitionFilters
    in the scan, asserted in tests/test_plans.py), so the other years'
    files are never opened. The aggregate value-checks the roundtrip
    against the unpartitioned source."""
    o = load_tables(spark, sf_dir).orders
    path = os.path.join(TMP_ROOT, "b3_orders_by_year")
    (
        o.withColumn("year", F.year("o_orderdate"))
        .write.mode("overwrite")
        .partitionBy("year")
        .parquet(path)
    )
    back = spark.read.parquet(path).filter(F.col("year") == 1998)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n"),
        sum_cents("o_totalprice").alias("total_cents"),
    )


# b5 — DYNAMIC partition pruning: the partition filter is not a
# literal (b3) but the result of a dim-side filter, discovered at
# runtime. The oracle computes the same join from the unpartitioned
# source.
_B5_ORACLE = """
SELECT CAST(year(o.o_orderdate) AS INT) AS year,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders o
JOIN (SELECT DISTINCT year(l_shipdate) AS ly FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '2000-06-01') d
  ON year(o.o_orderdate) = d.ly
GROUP BY year(o.o_orderdate)
"""


@register("b5_dynamic_partition_pruning", _B5_ORACLE)
def b5_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning — b3's static literal filter replaced
    by a filter VALUE only known at runtime: the partitioned fact is
    joined to a filtered dim-side subquery, and Spark injects a
    dynamicpruning subquery into the fact scan so non-matching year
    directories are skipped WITHOUT a literal predicate in the query
    (plan-asserted in tests/test_plans.py). At 100 TB this is the
    mechanism that keeps star joins from scanning every date
    partition when the filter lives on the dimension table."""
    o = load_tables(spark, sf_dir).orders
    li = load_tables(spark, sf_dir).lineitem
    path = os.path.join(TMP_ROOT, "b5_orders_by_year")
    (
        o.withColumn("year", F.year("o_orderdate"))
        .write.mode("overwrite")
        .partitionBy("year")
        .parquet(path)
    )
    fact = spark.read.parquet(path)
    dim = (
        li.filter(F.col("l_shipdate") >= "2000-06-01")
        .select(F.year("l_shipdate").alias("ly"))
        .distinct()
    )
    return (
        fact.join(dim, fact.year == dim.ly)
        .groupBy("year")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            sum_cents("o_totalprice").alias("total_cents"),
        )
    )


_B4_ORACLE = """
SELECT o.o_orderkey,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderkey
"""


@register("b4_bucketed_join", _B4_ORACLE)
def b4_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located fact-fact join + same-key aggregation with
    ZERO exchanges — the pre-shuffle that pays for itself on every
    subsequent join at 100 TB.

    orders and lineitem are written once per session as managed tables
    bucketed AND sorted on the join key (8 buckets here; a cluster
    sizes buckets so each is a few hundred MB). Both scans then emerge
    already hash-partitioned and sorted on the key, the merge-hinted
    join needs no Exchange and no Sort, and the groupBy on the SAME
    key reuses the join's partitioning — the whole plan is scan ->
    SortMergeJoin -> partial+final agg with not a single shuffle
    (asserted in tests/test_plans.py). The merge hint pins SMJ so the
    Exchange-free property is what's verified even where the dim
    would broadcast at test scale.
    """
    t = load_tables(spark, sf_dir)
    # Table names are keyed on the FULL resolved source path (basename
    # for readability + an 8-hex digest for uniqueness): two datasets
    # whose paths merely share a basename (/a/sf0.1 vs /b/sf0.1) must
    # not reuse each other's bucketed tables. Single-writer assumption:
    # the exists-check -> rmtree -> saveAsTable sequence below is not
    # atomic, so concurrent sessions sharing one warehouse must not
    # build the same table simultaneously (normal for an engine-owned
    # derived cache; a cluster deployment would take a metastore lock).
    import hashlib

    full = os.path.abspath(sf_dir)
    suffix = (
        re.sub(r"[^0-9a-zA-Z]+", "_", full.strip("/").split("/")[-1])
        + "_" + hashlib.sha256(full.encode()).hexdigest()[:8]
    )
    names = {"orders": f"b4_orders_{suffix}", "lineitem": f"b4_lineitem_{suffix}"}
    for src, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        if not spark.catalog.tableExists(names[src]):
            # a previous SESSION may have left the managed location on
            # disk while this session's catalog has no entry for it —
            # saveAsTable refuses that state, so clear the stale dir
            # (engine-owned derived data; the source of truth is
            # sf_dir). The location honors the current database
            # (<wh>/<db>.db/<table>) and only a LOCAL warehouse can be
            # cleaned from here — on a remote scheme (hdfs://, s3://)
            # the write proceeds and surfaces Spark's own error, which
            # an operator must resolve against that filesystem.
            import shutil

            wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
            if "://" not in wh or wh.startswith("file:"):
                base = re.sub(r"^file:(//)?", "", wh)
                db = spark.catalog.currentDatabase()
                loc = os.path.join(
                    base, f"{db}.db" if db != "default" else "", names[src]
                )
                if os.path.isdir(loc):
                    shutil.rmtree(loc)
            (getattr(t, src).write.mode("overwrite")
             .bucketBy(8, key).sortBy(key).saveAsTable(names[src]))
    o = spark.table(names["orders"]).select("o_orderkey")
    li = spark.table(names["lineitem"]).select("l_orderkey", "l_extendedprice")
    return (
        o.hint("merge")
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            sum_cents("l_extendedprice").alias("revenue_cents"),
        )
    )


# p13 — partition backfill via dynamic partition overwrite: re-import
# ONE year with corrected values; untouched partitions must survive
# byte-for-byte. The oracle states the expected final table: every
# year as imported originally, except 1998 re-priced.
_P13_ORACLE = """
SELECT CAST(year(o_orderdate) AS INT) AS year,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round((CASE WHEN year(o_orderdate) = 1998
                             THEN o_totalprice * 1.05
                             ELSE o_totalprice END) * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders
GROUP BY year(o_orderdate)
"""


@register("p13_partition_backfill", _P13_ORACLE)
def p13_partition_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent single-partition backfill — the everyday corrective
    job of a partitioned warehouse: rewrite year=1998 with corrected
    prices WITHOUT touching any other partition.

    The writer uses partitionOverwriteMode=dynamic (a writer option,
    no session state), so the second write replaces ONLY the
    partitions present in its input dataframe — with the default
    STATIC mode the same code would silently truncate the whole
    table to one year, the classic backfill footgun. The read-back
    aggregate value-proves both halves: 1998 carries the corrected
    prices, every other year is untouched.
    """
    o = load_tables(spark, sf_dir).orders
    path = os.path.join(TMP_ROOT, "p13_orders_backfill")
    base = o.withColumn("year", F.year("o_orderdate"))
    base.write.mode("overwrite").partitionBy("year").parquet(path)
    # price correction stays unrounded at 2dp: per-row round(x*1.05, 2)
    # sits on the .005 boundary for a handful of rows where the
    # engines' scaled rounding disagrees. The checksum instead rounds
    # each row to integer CENTS (0dp — no scaling step, deterministic
    # on the identical double both engines compute) and sums bigints
    # (functions/money.py)
    corrected = (
        base.filter(F.col("year") == 1998)
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.05)
    )
    (
        corrected.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("year")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return back.groupBy(F.col("year").cast("int").alias("year")).agg(
        F.count("*").cast("bigint").alias("n"),
        sum_cents("o_totalprice").alias("total_cents"),
    )


_P14_ORACLE = """
SELECT CASE WHEN year(o_orderdate) >= 1998 THEN o_orderstatus
            ELSE 'pre_evolution' END AS status,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders
GROUP BY 1
"""


@register("p14_schema_evolution", _P14_ORACLE)
def p14_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across batch generations — the Hive-era ETL
    reality a sync tool lives with: early partitions were written
    before a column existed, later ones carry it, and one read must
    span both.

    Batch 1 (orders before 1998) is written WITHOUT o_orderstatus;
    batch 2 (1998+) adds the column. Both land under one root in
    Hive-style batch=N partition directories; the read uses
    mergeSchema=true, which unions the file footers' schemas and
    null-fills the missing column in old files. The aggregate keys on
    the evolved column (old rows surface as 'pre_evolution'), so a
    reader that dropped either generation's schema or rows breaks the
    hash against the oracle's re-derivation from the source table.

    100 TB posture: mergeSchema reads EVERY file's footer before
    planning — fine for a backfill audit, wrong as the steady state.
    Production keeps the authoritative schema in the catalog (Hive
    metastore / Delta log) and evolves it there (ADD COLUMN is a
    metadata-only operation); readers then pass the declared schema
    and skip footer merging entirely. This operator pins the
    semantics that migration must preserve: absent-in-file = NULL,
    never a default, never a shifted column.
    """
    from hive_to_es_spark.pipeline import dataset_tmp_path

    o = load_tables(spark, sf_dir).orders
    root = dataset_tmp_path("p14_orders_evolved", sf_dir)
    v1 = o.filter(F.year("o_orderdate") < 1998).select("o_orderkey", "o_totalprice", "o_orderdate")
    v2 = o.filter(F.year("o_orderdate") >= 1998).select(
        "o_orderkey", "o_totalprice", "o_orderdate", "o_orderstatus"
    )
    v1.write.mode("overwrite").parquet(os.path.join(root, "batch=1"))
    v2.write.mode("overwrite").parquet(os.path.join(root, "batch=2"))
    back = spark.read.option("mergeSchema", "true").parquet(root)
    return (
        back.select(
            F.coalesce(F.col("o_orderstatus"), F.lit("pre_evolution")).alias("status"),
            "o_totalprice",
        )
        .groupBy("status")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            sum_cents("o_totalprice").alias("total_cents"),
        )
    )


# The corrupt set is chosen by key (n_nationkey % 5 = 0), so the
# oracle re-derives every output number from the source table alone.
_B6_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_lines,
       CAST(count(*) FILTER (WHERE n_nationkey % 5 <> 0) AS BIGINT) AS n_good,
       CAST(count(*) FILTER (WHERE n_nationkey % 5 = 0) AS BIGINT) AS n_corrupt,
       CAST(sum(CASE WHEN n_nationkey % 5 <> 0 THEN n_nationkey END) AS BIGINT)
         AS good_key_sum
FROM nation
"""


@register("b6_corrupt_records", _B6_ORACLE)
def b6_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record accounting — the ingestion reality a 100 TB
    sync cannot avoid: some fraction of upstream JSON lines is
    truncated/garbled, and the job must QUARANTINE them with exact
    counts, not crash (FAILFAST) and not silently drop them
    (DROPMALFORMED's default-mode footgun).

    Every 5th nation row is written as a deliberately truncated JSON
    line; the read declares the schema plus Spark's
    columnNameOfCorruptRecord column and mode=PERMISSIVE, so bad
    lines surface as rows whose corrupt column holds the raw text and
    whose data columns are NULL. The aggregate proves the contract:
    total lines, good rows, quarantined rows, and a checksum over the
    good rows only — all re-derived by the oracle from the clean
    source, so a reader that dropped, double-counted, or
    NULL-poisoned either class breaks the hash.

    Scale note: PERMISSIVE + corrupt-column is scan-side and
    per-record — no driver involvement; the quarantined raw lines
    would be written to a dead-letter path by the same job in
    production (p7's sink machinery, different index).
    """
    n = load_tables(spark, sf_dir).nation
    good = n.filter(F.col("n_nationkey") % 5 != 0).select(
        F.to_json(F.struct("n_nationkey", "n_name", "n_regionkey")).alias("line")
    )
    bad = n.filter(F.col("n_nationkey") % 5 == 0).select(
        F.concat(F.lit('{"n_nationkey": '), F.col("n_nationkey").cast("string")).alias(
            "line"
        )
    )
    from hive_to_es_spark.pipeline import dataset_tmp_path

    path = dataset_tmp_path("b6_nation_jsonl", sf_dir)
    good.unionByName(bad).write.mode("overwrite").text(path)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
            T.StructField("_bad_line", T.StringType()),
        ]
    )
    back = spark.read.schema(schema).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_bad_line"
    ).json(path)
    is_bad = F.col("_bad_line").isNotNull()
    return back.agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.sum((~is_bad).cast("bigint")).alias("n_good"),
        F.sum(is_bad.cast("bigint")).alias("n_corrupt"),
        F.sum(F.when(~is_bad, F.col("n_nationkey"))).cast("bigint").alias("good_key_sum"),
    )


# Same derivation as b6 — the oracle only sees the clean source; the
# Spark side must route through TWO physical sinks and read both back.
_P15_ORACLE = """
SELECT CAST(count(*) FILTER (WHERE n_nationkey % 5 <> 0) AS BIGINT) AS n_delivered,
       CAST(count(*) FILTER (WHERE n_nationkey % 5 = 0) AS BIGINT) AS n_dead_letter,
       CAST(sum(CASE WHEN n_nationkey % 5 <> 0 THEN n_nationkey END) AS BIGINT)
         AS delivered_key_sum,
       CAST(max(CASE WHEN n_nationkey % 5 = 0 THEN n_nationkey END) AS BIGINT)
         AS max_quarantined_key
FROM nation
"""


@register("p15_dead_letter", _P15_ORACLE)
def p15_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter routing — the production continuation of b6: one
    ingestion job, TWO sinks. Good rows continue to the main sink;
    quarantined rows (with their raw line preserved) land in a
    dead-letter path for replay after the upstream fix. Both counts
    come from READING THE SINKS BACK, so a row lost between the split
    and either write breaks the hash — the oracle only ever sees the
    clean source.

    The quarantined line keeps enough to replay: the raw text and the
    extractable key (regexp from the corrupt line). At 100 TB the
    dead-letter write is the same partitioned parquet/ES write as the
    main one — two forked writes off one scan (Spark runs them as two
    jobs over the cached split; a foreachBatch sink would fork inside
    one epoch), and the dead-letter volume is the error rate, not the
    corpus size.
    """
    from hive_to_es_spark.pipeline import dataset_tmp_path

    n = load_tables(spark, sf_dir).nation
    good = n.filter(F.col("n_nationkey") % 5 != 0).select(
        F.to_json(F.struct("n_nationkey", "n_name", "n_regionkey")).alias("line")
    )
    bad = n.filter(F.col("n_nationkey") % 5 == 0).select(
        F.concat(F.lit('{"n_nationkey": '), F.col("n_nationkey").cast("string")).alias(
            "line"
        )
    )
    src = dataset_tmp_path("p15_jsonl", sf_dir)
    good.unionByName(bad).write.mode("overwrite").text(src)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
            T.StructField("_bad_line", T.StringType()),
        ]
    )
    # cache() is REQUIRED, not an optimization: Spark disallows a
    # query whose referenced columns are only the internal corrupt
    # record column (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_
    # COLUMN) — the dead-letter branch selects exactly that — and
    # caching the parsed frame is the documented resolution. It also
    # makes the two sink writes genuinely fork off ONE parse.
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad_line")
        .json(src)
        .cache()
    )
    main_path = dataset_tmp_path("p15_main", sf_dir)
    dead_path = dataset_tmp_path("p15_dead", sf_dir)
    back.filter(F.col("_bad_line").isNull()).select(
        "n_nationkey", "n_name", "n_regionkey"
    ).write.mode("overwrite").parquet(main_path)
    back.filter(F.col("_bad_line").isNotNull()).select(
        F.col("_bad_line").alias("raw_line"),
        F.regexp_extract("_bad_line", r"(\d+)", 1).cast("int").alias("extracted_key"),
    ).write.mode("overwrite").parquet(dead_path)
    back.unpersist()  # both sinks written; read-back below uses parquet
    delivered = spark.read.parquet(main_path)
    dead = spark.read.parquet(dead_path)
    d_agg = delivered.agg(
        F.count("*").cast("bigint").alias("n_delivered"),
        F.sum("n_nationkey").cast("bigint").alias("delivered_key_sum"),
    )
    q_agg = dead.agg(
        F.count("*").cast("bigint").alias("n_dead_letter"),
        F.max("extracted_key").cast("bigint").alias("max_quarantined_key"),
    )
    return d_agg.crossJoin(q_agg).select(
        "n_delivered", "n_dead_letter", "delivered_key_sum", "max_quarantined_key"
    )


# Snapshot diff (CDC): two snapshots simulated deterministically from
# the orders fixture — snapshot A drops keys = 0 (mod 7) (later
# inserts), snapshot B drops keys = 0 (mod 5) (deletes) and uplifts
# price 10% on keys = 0 (mod 3) (updates). Row identity = md5 over the
# compared payload, identical bytes in both engines.
_P17_ORACLE = """
WITH a AS (
  SELECT o_orderkey,
         md5(concat_ws('|',
             CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
             o_orderstatus)) AS row_hash
  FROM orders WHERE o_orderkey % 7 <> 0
),
b AS (
  SELECT o_orderkey,
         md5(concat_ws('|',
             CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                  + CASE WHEN o_orderkey % 3 = 0
                         THEN CAST(round(o_totalprice * 100) AS BIGINT) // 10
                         ELSE 0 END AS VARCHAR),
             o_orderstatus)) AS row_hash
  FROM orders WHERE o_orderkey % 5 <> 0
)
SELECT CASE WHEN a.o_orderkey IS NULL THEN 'added'
            WHEN b.o_orderkey IS NULL THEN 'deleted'
            WHEN a.row_hash <> b.row_hash THEN 'updated'
            ELSE 'unchanged' END AS status,
       count(*) AS n,
       CAST(sum(coalesce(a.o_orderkey, b.o_orderkey)) AS BIGINT) AS key_sum
FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
GROUP BY 1
"""


@register("p17_snapshot_diff", _P17_ORACLE)
def p17_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (CDC table compare): classify every key across
    two snapshot reads as added / deleted / updated / unchanged via a
    full outer join on the key plus a row-payload hash compare —
    the standard incremental-sync primitive (what feeds p9's upsert
    and the reference tool class's incremental reindex decision).

    Scale shape: ONE shuffle — both sides hash-partition on the join
    key; the md5 row hash is computed map-side inside the scan
    projection, so the shuffle carries (key, 16-byte hash), not the
    row payload. Classification + count is a partial aggregate on top.
    At 100 TB the hash compare is what makes diffing feasible: you
    never move full rows, and with both snapshots bucketed on the key
    the exchange disappears entirely (b4's layout). key_sum is a
    content checksum over each class so the oracle pins membership,
    not just counts."""
    o = load_tables(spark, sf_dir).orders
    # Row identity hashes INTEGER CENTS, never a double-to-string
    # rendering: engines format doubles differently (Spark flips to
    # 1.23E7 notation at >=1e7; rounding a x.xx5 uplift to cents can
    # split by one ulp), and any one-row disagreement silently
    # reclassifies the diff. round(price*100) is >=1 ulp from any .5
    # boundary for 2-dp money, and the 10% uplift is cents + cents DIV
    # 10 — pure integers end to end.
    cents_sql = "CAST(round(o_totalprice * 100) AS BIGINT)"
    cents = F.expr(cents_sql)
    snap_a = o.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        F.md5(
            F.concat_ws("|", cents.cast("string"), "o_orderstatus")
        ).alias("row_hash"),
    )
    # true integer division (Spark DIV == DuckDB // for non-negative
    # cents), so the uplift never routes through a double
    cents_b = cents + F.when(
        F.col("o_orderkey") % 3 == 0, F.expr(f"({cents_sql}) DIV 10")
    ).otherwise(F.lit(0))
    snap_b = o.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey",
        F.md5(
            F.concat_ws("|", cents_b.cast("string"), "o_orderstatus")
        ).alias("row_hash"),
    )
    a, b = snap_a.alias("a"), snap_b.alias("b")
    joined = a.join(b, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer")
    status = (
        F.when(F.col("a.o_orderkey").isNull(), "added")
        .when(F.col("b.o_orderkey").isNull(), "deleted")
        .when(F.col("a.row_hash") != F.col("b.row_hash"), "updated")
        .otherwise("unchanged")
    )
    return (
        joined.select(
            status.alias("status"),
            F.coalesce(F.col("a.o_orderkey"), F.col("b.o_orderkey")).alias("k"),
        )
        .groupBy("status")
        .agg(F.count("*").alias("n"), F.sum("k").cast("bigint").alias("key_sum"))
    )


def _interleave_sql(xcol: str, ycol: str, bits: int = 16) -> str:
    """Bit-interleave SQL for two normalized ints (x even bits, y odd
    bits) — one expression string shared VERBATIM by the Spark plan
    and the DuckDB oracle, so the z-value definition cannot drift."""
    terms = []
    for i in range(bits):
        terms.append(f"((({xcol} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({ycol} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


def _b7_oracle() -> str:
    z = _interleave_sql("x16", "y16")
    return f"""
WITH base AS (
  SELECT o_custkey,
         epoch_us(o_orderdate) // 86400000000 AS dayn
  FROM orders
),
ext AS (
  SELECT min(o_custkey) AS xmin, max(o_custkey) AS xmax,
         min(dayn) AS ymin, max(dayn) AS ymax
  FROM base
),
norm AS (
  SELECT o_custkey, dayn,
         CAST(((o_custkey - xmin) * 65535) // (xmax - xmin) AS BIGINT) AS x16,
         CAST(((dayn - ymin) * 65535) // (ymax - ymin) AS BIGINT) AS y16
  FROM base, ext
),
zed AS (
  SELECT o_custkey, dayn, CAST({z} AS BIGINT) >> 26 AS zbucket FROM norm
)
SELECT zbucket, count(*) AS n,
       min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
       min(dayn) AS min_day, max(dayn) AS max_day
FROM zed GROUP BY zbucket
"""


@register("b7_zorder_layout", _b7_oracle())
def b7_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering layout for multi-dimensional data
    skipping — the lakehouse OPTIMIZE ZORDER BY primitive: normalize
    (o_custkey, order epoch-day) to 16 bits each, interleave to a
    32-bit z-value, bucket on the top 6 z-bits (64 target files), and
    emit each bucket's min/max span in BOTH dimensions. Measured on
    the fixture: every bucket spans ~12% of the custkey range AND
    ~12% of the date range — so min/max file stats prune scans on
    EITHER predicate, where a 1-D sort gives perfect spans on its key
    and useless spans on the other.

    All arithmetic is integer (shift/mask/floor-div; `DIV`/`//` on
    positive operands agree across engines — a plain `/`+CAST would
    not, Spark truncates where DuckDB rounds). One scan + broadcast
    extremes + 64-group agg: this is the planning query a table
    optimizer runs before rewriting files (repartitionByRange(zbucket)
    does the actual layout; b3/b5 then benefit from pruned scans)."""
    o = load_tables(spark, sf_dir).orders
    base = o.selectExpr(
        "o_custkey",
        # o_orderdate reads as TIMESTAMP_NTZ; session tz is pinned UTC, so
        # the cast is an exact relabel and epoch-day matches the oracle
        "unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000 AS dayn"
    )
    ext = base.agg(
        F.min("o_custkey").alias("xmin"),
        F.max("o_custkey").alias("xmax"),
        F.min("dayn").alias("ymin"),
        F.max("dayn").alias("ymax"),
    )
    norm = base.crossJoin(F.broadcast(ext)).selectExpr(
        "o_custkey",
        "dayn",
        "CAST(((o_custkey - xmin) * 65535) DIV (xmax - xmin) AS BIGINT) AS x16",
        "CAST(((dayn - ymin) * 65535) DIV (ymax - ymin) AS BIGINT) AS y16",
    )
    zed = norm.selectExpr(
        "o_custkey",
        "dayn",
        f"(CAST({_interleave_sql('x16', 'y16')} AS BIGINT) >> 26) AS zbucket",
    )
    return zed.groupBy("zbucket").agg(
        F.count("*").alias("n"),
        F.min("o_custkey").alias("min_cust"),
        F.max("o_custkey").alias("max_cust"),
        F.min("dayn").alias("min_day"),
        F.max("dayn").alias("max_day"),
    )


_P18_ORACLE = """
WITH per_key AS (
  SELECT date_trunc('month', o_orderdate) AS month, count(*) AS n
  FROM orders GROUP BY 1
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys, CAST(sum(n) AS BIGINT) AS n_rows
  FROM per_key
)
SELECT month, n,
       round(n * n_keys / CAST(n_rows AS DOUBLE), 6) AS skew_ratio,
       n * n_keys > 2 * n_rows AS is_hot
FROM per_key, tot
"""


@register("p18_skew_report", _P18_ORACLE)
def p18_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-key skew report: per-key row counts with each key's
    ratio to the uniform share, flagging keys >2x uniform — the
    planning query that decides WHICH keys j12's salted join salts
    and what AQE's skewedPartitionFactor should be. One partial agg
    plus a broadcast 1-row total; the report is |keys| rows at any
    data size. The integer cross-multiplied flag (n*n_keys > 2*n_rows)
    avoids any float threshold drift."""
    o = load_tables(spark, sf_dir).orders
    per_key = o.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.count("*").alias("n")
    )
    tot = per_key.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("n").cast("bigint").alias("n_rows"),
    )
    return per_key.crossJoin(F.broadcast(tot)).select(
        "month",
        "n",
        F.round(
            F.col("n") * F.col("n_keys") / F.col("n_rows").cast("double"), 6
        ).alias("skew_ratio"),
        (F.col("n") * F.col("n_keys") > 2 * F.col("n_rows")).alias("is_hot"),
    )


_B8_ORACLE = """
SELECT lang, source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang, source
"""


@register("b8_python_datasource", _B8_ORACLE)
def b8_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via the Spark 4 Python DataSource API — the
    interface a user implements to ingest from systems with no JVM
    connector (internal REST services, bespoke formats, an ES scroll
    reader). This one serves the documents table FROM PARQUET ROW
    GROUPS: `partitions()` plans one InputPartition per row group
    (real split-based parallelism — each task reads only its group),
    and `read()` yields pyarrow RecordBatches, the vectorized path
    (no per-row Python objects). The aggregate on top hash-verifies
    that the connector delivers exactly the table.

    Scale notes: partition planning runs on the driver and must be
    METADATA-ONLY (here: parquet footer, one fetch) — listing or
    reading data in partitions() is the classic custom-source mistake;
    per-task state is one row group. Filter pushdown would implement
    pushFilters() on the reader; without it Spark filters above, which
    is correct but scans everything — same trade as any raw source."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class DocsReader(DataSourceReader):
        def __init__(self, options):
            self.path = options.get("path")

        def _files(self):
            # a parquet "table" is one file (the fixtures) or a
            # directory of part files (any Spark-written table, e.g.
            # the scale ladder's 8x dirs) — a real custom source must
            # plan splits across BOTH (round 10: the single-file
            # assumption surfaced as the full-inventory endurance
            # sweep's only failure). On a cluster this listing comes
            # from the object store's list API; same metadata-only
            # economics.
            import os as _os

            if _os.path.isdir(self.path):
                files = sorted(
                    _os.path.join(self.path, f)
                    for f in _os.listdir(self.path)
                    if f.endswith(".parquet")
                )
                if not files:
                    # fail LOUDLY instead of yielding an empty frame
                    # (round-10 advice). Two distinct causes, two
                    # messages: a partitionBy-written (nested) table
                    # is a layout this flat reader must not guess at
                    # — its part files do not CONTAIN the partition
                    # column, so recursing would silently return rows
                    # with the partition values dropped.
                    nested = any(
                        f.endswith(".parquet")
                        for r, _d, ns in _os.walk(self.path)
                        for f in ns
                    )
                    if nested:
                        raise ValueError(
                            f"custom source: {self.path!r} is a "
                            f"partitioned (nested-dir) parquet table; "
                            f"this flat row-group reader would drop "
                            f"the partition columns — read it with "
                            f"spark.read.parquet instead"
                        )
                    raise FileNotFoundError(
                        f"custom source: no .parquet files under "
                        f"{self.path!r} — refusing to silently read "
                        f"an empty table"
                    )
                return files
            return [self.path]

        def partitions(self):
            import pyarrow.parquet as pq

            return [
                InputPartition((f, i))
                for f in self._files()
                for i in range(pq.ParquetFile(f).metadata.num_row_groups)
            ]

        def read(self, partition):
            import pyarrow.parquet as pq

            f, rg = partition.value
            yield from pq.ParquetFile(f).iter_batches(
                row_groups=[rg], batch_size=8192
            )

    class DocsSource(DataSource):
        @classmethod
        def name(cls):
            return "pydocs"

        def schema(self):
            return (
                "doc_id BIGINT, text STRING, lang STRING, "
                "source STRING, n_chars BIGINT"
            )

        def reader(self, schema):
            return DocsReader(self.options)

    from hive_to_es_spark.io import CATALOG_PREFIX

    if sf_dir.startswith(CATALOG_PREFIX):
        raise ValueError(
            "b8 demonstrates a path-backed custom source; catalog-routed "
            "warehouses read documents via spark.table (p1) instead"
        )
    spark.dataSource.register(DocsSource)
    docs = (
        spark.read.format("pydocs")
        .option("path", os.path.join(sf_dir, "documents.parquet"))
        .load()
    )
    return docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


_P19_ORACLE = """
SELECT 'orders_price_positive' AS constraint_name,
       CAST(count(*) AS BIGINT) AS n_checked,
       CAST(count(*) FILTER (NOT (o_totalprice > 0) OR o_totalprice IS NULL) AS BIGINT) AS n_violations
FROM orders
UNION ALL
SELECT 'orders_date_in_range',
       CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (NOT (o_orderdate >= TIMESTAMP '1992-01-01'
                                  AND o_orderdate < TIMESTAMP '2003-01-01')
                             OR o_orderdate IS NULL) AS BIGINT)
FROM orders
UNION ALL
SELECT 'orders_custkey_references_customer',
       (SELECT CAST(count(*) AS BIGINT) FROM orders),
       (SELECT CAST(count(*) AS BIGINT) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
UNION ALL
SELECT 'lineitem_orderkey_references_orders',
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
UNION ALL
SELECT 'lineitem_quantity_1_to_50',
       CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (NOT (l_quantity BETWEEN 1 AND 50) OR l_quantity IS NULL) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'customer_acctbal_not_null',
       CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (c_acctbal IS NULL) AS BIGINT)
FROM customer
"""


@register("p19_data_quality", _P19_ORACLE)
def p19_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit (the Deequ/dbt-test shape): a
    constraint suite — range checks, null checks, referential
    integrity across tables — evaluated in one job, one result row
    per constraint with checked/violation counts. The gate a sync
    pipeline runs BEFORE p7 ships documents anywhere.

    Plan shape: ALL predicate constraints on a table compile to
    count_if columns of ONE aggregate scan (stacked_checks — adding a
    constraint adds a column, not a scan; the single agg row explodes
    into per-constraint result rows). Referential checks each need
    their own anti-join pass over the fact — broadcast when the
    referenced key side fits (customer at any realistic dim size),
    Catalyst/AQE-chosen otherwise. All
    outputs are exact integers. Violation rows themselves (not just
    counts) are one filter away — the same expressions route bad rows
    to b6's quarantine or p15's dead-letter sink."""
    t = load_tables(spark, sf_dir)
    o, c, li = t.orders, t.customer, t.lineitem

    def stacked_checks(df, checks):
        """ONE aggregate scan per table: every predicate constraint is
        a count_if column of the same agg; the single result row then
        explodes into one row per constraint. NULL never passes a
        check silently: each bad-condition ORs in the column's
        nullness (NOT(NULL > 0) is NULL, which count_if would skip —
        the exact dirty-data case an audit exists for)."""
        agg = df.agg(
            F.count("*").cast("bigint").alias("n_checked"),
            *[
                F.count_if(bad).cast("bigint").alias(f"v{i}")
                for i, (_, bad) in enumerate(checks)
            ],
        )
        return agg.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(name).alias("constraint_name"),
                            F.col("n_checked").alias("n_checked"),
                            F.col(f"v{i}").alias("n_violations"),
                        )
                        for i, (name, _) in enumerate(checks)
                    ]
                )
            ).alias("c")
        ).select("c.*")

    o_checks = stacked_checks(
        o,
        [
            (
                "orders_price_positive",
                ~(F.col("o_totalprice") > 0) | F.col("o_totalprice").isNull(),
            ),
            (
                "orders_date_in_range",
                ~(
                    (F.col("o_orderdate") >= F.lit("1992-01-01").cast("timestamp"))
                    & (F.col("o_orderdate") < F.lit("2003-01-01").cast("timestamp"))
                )
                | F.col("o_orderdate").isNull(),
            ),
        ],
    )
    li_checks = stacked_checks(
        li,
        [
            (
                "lineitem_quantity_1_to_50",
                ~F.col("l_quantity").between(1, 50) | F.col("l_quantity").isNull(),
            )
        ],
    )
    c_checks = stacked_checks(
        c, [("customer_acctbal_not_null", F.col("c_acctbal").isNull())]
    )

    def ref_check(fact, fk, dim, pk, name, broadcast_dim):
        # referential integrity needs its own pass (an anti-join
        # cannot fold into the aggregate scan); NULL fks never match
        # and so count as orphans, consistent with NOT EXISTS. The
        # broadcast hint is FORCED when given, so only hint true
        # dimensions; fact-sized reference sides (orders under
        # lineitem) stay with Catalyst/AQE's size-based choice.
        keys = dim.select(pk)
        if broadcast_dim:
            keys = F.broadcast(keys)
        n_total = fact.agg(F.count("*").cast("bigint").alias("n_checked"))
        orphans = (
            fact.join(keys, fact[fk] == dim[pk], "left_anti")
            .agg(F.count("*").cast("bigint").alias("n_violations"))
        )
        return n_total.crossJoin(orphans).select(
            F.lit(name).alias("constraint_name"), "n_checked", "n_violations"
        )

    fk1 = ref_check(
        o, "o_custkey", c, "c_custkey",
        "orders_custkey_references_customer", broadcast_dim=True,
    )
    fk2 = ref_check(
        li, "l_orderkey", o, "o_orderkey",
        "lineitem_orderkey_references_orders", broadcast_dim=False,
    )
    return (
        o_checks.unionByName(fk1)
        .unionByName(fk2)
        .unionByName(li_checks)
        .unionByName(c_checks)
    )


# p20 — post-sync reconciliation: the audit every sync pipeline owes
# its consumers ("did everything arrive?"), run as a query instead of
# trusted from job logs. A real incremental sync (year >= 1997 — the
# reference's incremental mode) is executed through run_job into a
# parquet sink; the reconcile then compares source vs sink PER YEAR —
# row counts and integer-cents checksums — and classifies every
# partition ok / never_synced / stale. The oracle re-derives the sink
# side from the clean source + the job's own predicate, so a sink
# write that dropped or duplicated rows breaks the hash.
_P20_ORACLE = """
WITH src AS (
  SELECT year(o_orderdate) AS yr, CAST(count(*) AS BIGINT) AS n_src,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_src
  FROM orders GROUP BY 1
),
sink AS (
  SELECT year(o_orderdate) AS yr, CAST(count(*) AS BIGINT) AS n_sink,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_sink
  FROM orders WHERE year(o_orderdate) >= 1997 GROUP BY 1
)
SELECT s.yr,
       s.n_src,
       CAST(coalesce(k.n_sink, 0) AS BIGINT) AS n_sink,
       CAST(s.n_src - coalesce(k.n_sink, 0) AS BIGINT) AS missing_rows,
       CASE WHEN k.n_sink = s.n_src AND k.cents_sink = s.cents_src THEN 'ok'
            WHEN k.n_sink IS NULL THEN 'never_synced'
            ELSE 'stale' END AS sync_status
FROM src s LEFT JOIN sink k ON s.yr = k.yr
"""


@register("p20_sync_reconcile", _P20_ORACLE)
def p20_sync_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-vs-sink reconciliation after a real incremental sync:
    run_job ships `year(o_orderdate) >= 1997` to a parquet sink (the
    reference's incremental mode), then ONE query classifies every
    source year as ok / never_synced / stale from (count, integer-
    cents checksum) pairs.

    Scale shape: two partial-combined aggregates — each scan reduces
    to |years| rows map-side — plus a |years|-row join; the sink is
    never joined row-for-row against the source (a naive full-outer
    row diff is p17's job and twice the I/O; count+checksum per
    partition is how warehouse reconciliation actually runs at 100 TB,
    and the checksum makes silent row corruption visible, not just
    missing rows). Integer cents, never float sums, so the checksum
    compare is exact on both engines."""
    from hive_to_es_spark.pipeline import dataset_tmp_path

    sink_path = dataset_tmp_path("p20_sink", sf_dir)
    job = Job(
        name="p20_incremental_sync",
        source_table="orders",
        incremental_filter="year(o_orderdate) >= 1997",
        columns={
            "o_orderkey": "o_orderkey",
            "o_orderstatus": "o_orderstatus",
            "o_totalprice": "o_totalprice",
            "o_orderdate": "o_orderdate",
        },
        sink_format="parquet",
        sink_path=sink_path,
        mode="overwrite",
    )
    run_job(spark, sf_dir, job)

    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    src = (
        load_tables(spark, sf_dir)
        .orders.groupBy(F.year("o_orderdate").alias("yr"))
        .agg(F.count("*").alias("n_src"), F.sum(cents).alias("cents_src"))
    )
    sink = (
        spark.read.parquet(sink_path)
        .groupBy(F.year("o_orderdate").alias("yr"))
        .agg(F.count("*").alias("n_sink_raw"), F.sum(cents).alias("cents_sink"))
    )
    joined = src.join(sink, "yr", "left")
    status = (
        F.when(
            (F.col("n_sink_raw") == F.col("n_src"))
            & (F.col("cents_sink") == F.col("cents_src")),
            "ok",
        )
        .when(F.col("n_sink_raw").isNull(), "never_synced")
        .otherwise("stale")
    )
    return joined.select(
        "yr",
        "n_src",
        F.coalesce(F.col("n_sink_raw"), F.lit(0)).cast("bigint").alias("n_sink"),
        (F.col("n_src") - F.coalesce(F.col("n_sink_raw"), F.lit(0)))
        .cast("bigint")
        .alias("missing_rows"),
        status.alias("sync_status"),
    )


_B9_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(1 AS BIGINT) AS n_files
FROM events
GROUP BY event_type
"""


@register("b9_file_metadata", _B9_ORACLE)
def b9_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-file lineage via the hidden `_metadata` scan columns:
    events are written partitioned by event_type (repartitioned on the
    key first, so each partition directory lands exactly one file),
    then read back attributing every row to its physical file — the
    "which file did this row come from" audit that incident triage
    and selective re-ingest (p13's backfill) depend on.

    `_metadata.file_path` / `file_name` are generated AT THE SCAN
    (constant per split, no join, no shuffle); the only exchange is
    the report aggregate, whose key space is |files|. The partition
    value is recovered from the directory name (regexp on file_path)
    and must round-trip the written key exactly; n_files per
    partition must be exactly 1 (the repartition-by-key write
    contract — the file-count column is how a lineage report catches
    small-file explosions, p6's problem, at a glance). The oracle is
    the equivalent source-table aggregate: equality proves the
    write→discover→attribute loop loses and duplicates nothing."""
    from hive_to_es_spark.pipeline import dataset_tmp_path

    ev = load_tables(spark, sf_dir).events
    path = dataset_tmp_path("b9_events_by_type", sf_dir)
    (
        ev.repartition(F.col("event_type"))
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(path)
    )
    back = spark.read.parquet(path).select(
        F.regexp_extract(
            F.col("_metadata.file_path"), r"event_type=([^/]+)/", 1
        ).alias("event_type"),
        F.col("_metadata.file_name").alias("file_name"),
    )
    return back.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.countDistinct("file_name").cast("bigint").alias("n_files"),
    )


# b10 — statistics-driven join reordering (CBO). The catalog tables
# are external LOCATION tables over the fixture parquet (no copy);
# ANALYZE gives the optimizer row counts + column NDV/min/max, and
# with spark.sql.cbo.joinReorder the 3-table join below is re-planned
# from its deliberately-bad syntactic order (fact-first) to
# selective-dim-first. The RESULT is identical by construction — the
# op's claim is the plan diff, pinned by tests/test_plans.py.
_B10_QUERY = """
SELECT c.c_nationkey AS nation,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
FROM b10_lineitem l
JOIN b10_orders o ON l.l_orderkey = o.o_orderkey
JOIN b10_customer c ON o.o_custkey = c.c_custkey
WHERE c.c_nationkey < 3
GROUP BY c.c_nationkey
"""

_B10_ORACLE = """
SELECT c.c_nationkey AS nation,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_nationkey < 3
GROUP BY c.c_nationkey
"""

_B10_CONFS = ("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
_B10_TABLES = ("customer", "orders", "lineitem")


def b10_register_and_analyze(spark: SparkSession, sf_dir: str) -> None:
    """Create the b10_* external catalog tables over the fixture
    parquet and compute table + join-key column statistics — the
    ANALYZE half of the CBO contract (p23 computes the same numbers
    as a DataFrame report; this is the catalog-wired form the
    optimizer actually reads)."""
    key_cols = {
        "customer": "c_custkey, c_nationkey",
        "orders": "o_orderkey, o_custkey",
        "lineitem": "l_orderkey",
    }
    for t, cols in key_cols.items():
        spark.sql(f"DROP TABLE IF EXISTS b10_{t}")
        spark.sql(
            f"CREATE TABLE b10_{t} USING parquet LOCATION '{sf_dir}/{t}.parquet'"
        )
        spark.sql(f"ANALYZE TABLE b10_{t} COMPUTE STATISTICS")
        spark.sql(f"ANALYZE TABLE b10_{t} COMPUTE STATISTICS FOR COLUMNS {cols}")


@register("b10_cbo_stats_reorder", _B10_ORACLE)
def b10_cbo_stats_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based join reordering driven by ANALYZE statistics: the
    3-table join is WRITTEN fact-first (lineitem ⋈ orders ⋈ customer
    with a selective customer predicate — the worst syntactic order),
    and the CBO re-plans it selective-dim-first, so the big fact
    table joins LAST against an already-filtered build side. Measured
    on the fixtures: optimizer plan order flips from
    (lineitem ⋈ orders) ⋈ customer to (orders ⋈ customer) ⋈ lineitem
    the moment stats + cbo/joinReorder are on (the plan test pins
    both directions).

    The result is identical under any join order (inner-join
    commutativity) — the oracle proves correctness while the PLAN is
    the deliverable, exactly how a 100 TB warehouse uses ANALYZE: the
    optimizer cannot see selectivity without column stats, and a
    fact-first plan at that scale shuffles the full fact table into a
    join it could have entered pre-filtered. The query executes
    EAGERLY under the CBO confs (write-to-parquet inside the op) and
    the confs are restored after — a lazily-returned frame would be
    re-optimized at driver collect time with CBO off, silently
    un-reordering; session-global CBO is not leaked to other
    operators (it is a no-op without catalog stats, but hygiene is
    hygiene)."""
    from hive_to_es_spark.pipeline import dataset_tmp_path

    b10_register_and_analyze(spark, sf_dir)
    out = dataset_tmp_path("b10_result", sf_dir)
    old = {k: spark.conf.get(k, None) for k in _B10_CONFS}
    try:
        for k in _B10_CONFS:
            spark.conf.set(k, "true")
        spark.sql(_B10_QUERY).write.mode("overwrite").parquet(out)
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        # drop the catalog tables too (round-10 advice): stale
        # ANALYZE stats would silently mis-cost a later session
        # query if sf_dir changes within one SparkSession, and the
        # conf hygiene above is pointless if catalog state leaks
        for t in _B10_TABLES:
            spark.sql(f"DROP TABLE IF EXISTS b10_{t}")
    return spark.read.parquet(out)


# b11 — the WRITER half of the Spark 4 Python DataSource API (b8 is
# the reader half): a custom sink with real two-phase commit. Tasks
# stage Arrow batches into "<path>/_staging/<uuid>.parquet" and return
# a picklable commit message; the driver's commit() renames every
# staged file into the target root and stamps a _SUCCESS manifest;
# abort() deletes the staging dir — so a failed job leaves ZERO
# committed files (the abort-path test proves it). This is the
# interface an ES-class bulk sink rides when no JVM connector exists.
def _b11_committed_rows_impl(path: str) -> int:
    """Authoritative committed-row count for a pyatomic target: the
    sum of the per-job _SUCCESS.<job> manifests. The bare _SUCCESS
    file is a marker whose embedded total is advisory only — under
    concurrent appends the last writer may persist a stale sum
    (round-11 review), but the manifest set is append-only and always
    complete, so derive the count HERE, at read time."""
    import glob as _glob
    import os as _os

    return sum(
        int(open(m).read() or 0)
        for m in _glob.glob(_os.path.join(path, "_SUCCESS.*"))
    )


def b11_committed_rows(path: str) -> int:
    """Public read-side companion to the pyatomic sink: see
    _b11_committed_rows_impl (kept separate so the sink's inner class
    can call the impl without importing the module namespace into the
    datasource pickle)."""
    return _b11_committed_rows_impl(path)


def _b11_register_sink(spark: SparkSession) -> None:
    from dataclasses import dataclass

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceArrowWriter,
        WriterCommitMessage,
    )

    @dataclass
    class StagedFile(WriterCommitMessage):
        tmp_path: str
        rows: int

    class AtomicParquetWriter(DataSourceArrowWriter):
        """Tasks never touch the target root; only commit() does.
        Staging under '_staging/' keeps half-written files invisible
        to parquet readers even mid-job (underscore-prefixed dirs are
        skipped by Spark discovery — the selective_partition_delete
        aside trick). Requires target and staging on one shared
        filesystem so commit's rename is a metadata op (same
        assumption every FileOutputCommitter makes)."""

        def __init__(self, options):
            import uuid

            self.path = options.get("path")
            self.poison = options.get("poison")
            # per-JOB staging subdir (round-10 advice): the writer is
            # constructed once on the driver and pickled to tasks, so
            # every task of THIS job stages under one uuid dir, and
            # commit/abort tear down only their own dir — two
            # concurrent append jobs into one target can no longer
            # delete each other's staged files
            self.job_id = uuid.uuid4().hex

        def write(self, iterator):
            import os
            import uuid

            import pyarrow.parquet as pq

            # stream batch-by-batch through a ParquetWriter: per-task
            # memory is O(one Arrow batch), never O(partition) —
            # buffering the whole partition would contradict the
            # sink's own 100 TB posture (round-10 review)
            staging = os.path.join(self.path, "_staging", self.job_id)
            os.makedirs(staging, exist_ok=True)
            tmp = os.path.join(staging, f"{uuid.uuid4().hex}.parquet")
            writer, rows = None, 0
            try:
                for batch in iterator:
                    if self.poison is not None:
                        col = batch.column(0).to_pylist()
                        if int(self.poison) in col:
                            raise ValueError("poison row refused by sink")
                    if writer is None:
                        writer = pq.ParquetWriter(tmp, batch.schema)
                    writer.write_batch(batch)
                    rows += batch.num_rows
            except Exception:
                if writer is not None:
                    writer.close()
                if os.path.exists(tmp):
                    os.remove(tmp)  # never leave a dead staged file
                raise
            if writer is None:
                return StagedFile(tmp_path="", rows=0)
            writer.close()
            return StagedFile(tmp_path=tmp, rows=rows)

        def commit(self, messages):
            import glob
            import os
            import shutil

            n = 0
            for m in messages:
                if m.tmp_path:
                    # final name derives from the staged file's uuid:
                    # message-index names would COLLIDE across append
                    # jobs into the same target and os.replace would
                    # silently destroy the earlier job's committed
                    # files (round-10 review)
                    final = os.path.join(
                        self.path, f"part-{os.path.basename(m.tmp_path)}"
                    )
                    os.replace(m.tmp_path, final)
                    n += m.rows
            # only THIS job's staging dir (round-10 advice)
            shutil.rmtree(
                os.path.join(self.path, "_staging", self.job_id),
                ignore_errors=True,
            )
            try:  # drop the shared root only once it is empty
                os.rmdir(os.path.join(self.path, "_staging"))
            except OSError:
                pass
            # Each job writes its own _SUCCESS.<job> manifest; the
            # SUM of the manifests is the committed row count and
            # b11_committed_rows() below is the authoritative reader.
            # The bare _SUCCESS file is a completion MARKER plus an
            # advisory total: two committers racing the re-scan can
            # each persist a total missing the other's manifest, and
            # with no later commit that stale number would stand
            # forever (round-11 review) — which is why no consumer may
            # read the count from _SUCCESS itself.
            with open(
                os.path.join(self.path, f"_SUCCESS.{self.job_id}"), "w"
            ) as f:
                f.write(str(n))
            with open(os.path.join(self.path, "_SUCCESS"), "w") as f:
                f.write(str(_b11_committed_rows_impl(self.path)))

        def abort(self, messages):
            import os
            import shutil

            shutil.rmtree(
                os.path.join(self.path, "_staging", self.job_id),
                ignore_errors=True,
            )
            try:
                os.rmdir(os.path.join(self.path, "_staging"))
            except OSError:
                pass
            # belt + braces: drop any staged path the messages name
            for m in messages:
                if m is not None and getattr(m, "tmp_path", ""):
                    try:
                        os.remove(m.tmp_path)
                    except OSError:
                        pass

    class AtomicParquetSink(DataSource):
        @classmethod
        def name(cls):
            return "pyatomic"

        def writer(self, schema, overwrite):
            return AtomicParquetWriter(self.options)

    spark.dataSource.register(AtomicParquetSink)


_B11_ORACLE = """
SELECT CAST(strftime(o_orderdate, '%Y') AS BIGINT) AS year,
       o_orderstatus AS status,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(o_totalprice * 100 AS BIGINT)) AS BIGINT) AS cents
FROM orders
GROUP BY 1, 2
"""


@register("b11_python_datasource_writer", _B11_ORACLE)
def b11_python_datasource_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roundtrip through the custom Python-DataSource SINK: stream the
    orders table out through the 'pyatomic' two-phase-commit writer
    (Arrow batches staged per task, renamed into place only by the
    driver's commit), read the committed files back, and aggregate —
    the hash gate proves the sink neither loses, duplicates, nor
    mangles rows (timestamp and decimal-cents exactness included).

    Scale notes: write() receives Arrow RecordBatches (the vectorized
    path — no per-row Python objects, b8's discipline on the way
    out); per-task state is one staged file handle; commit() is
    |tasks| metadata renames on the driver, the same economics as
    FileOutputCommitter v1. The staging dir is underscore-prefixed so
    a concurrent reader of the target NEVER sees an uncommitted file,
    and a failed job aborts to zero committed bytes —
    tests/test_pipeline.py kills a write mid-job with a poison row
    and asserts the target holds no part files, no _SUCCESS, and no
    staging leftovers."""
    import os

    from hive_to_es_spark.functions.merge import fs_delete
    from hive_to_es_spark.pipeline import dataset_tmp_path

    _b11_register_sink(spark)
    o = load_tables(spark, sf_dir).orders.select(
        "o_orderkey",
        "o_orderdate",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    out = dataset_tmp_path("b11_sink", sf_dir)
    fs_delete(spark, out)
    os.makedirs(out, exist_ok=True)
    o.write.format("pyatomic").option("path", out).mode("append").save()
    back = spark.read.parquet(out)
    return back.groupBy(
        F.year("o_orderdate").cast("bigint").alias("year"),
        F.col("o_orderstatus").alias("status"),
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("cents"),
    )


def selective_partition_delete(spark, path, part_col, pred, affected=None):
    """Delete rows matching ``pred`` from a partitioned parquet table
    by rewriting ONLY the partitions that contain them. Partition dirs
    without a match keep their original files untouched — the property
    tests assert via file listings. The affected-partition list is the
    only driver-side state (bounded by |partitions|); pass ``affected``
    when the caller already computed it to save the discovery scan.

    Crash posture matches write_replace_parquet (round-7 advice: a
    dynamic overwrite that reads and rewrites ``path`` in one job is
    non-atomic on S3A — a mid-commit failure could leave partitions
    half-replaced with NO surviving copy). Survivors are written once
    to a SIBLING staging dir (same filesystem, executor-writable); a
    staging-write failure cleans the staging dir up (try/except — no
    leaked temp dirs) and leaves the target untouched. Each affected
    partition is then swapped RENAME-ASIDE-FIRST (ADVICE r8): rename
    dst -> "_old.<part_col>=<v>", rename staging copy -> dst, delete
    the aside. The aside name lives OUTSIDE the partition namespace
    (ADVICE r9: the earlier "<part_col>=<v>.old" form was ambiguous —
    a legitimate string partition whose value ends in ".old" would be
    classified as a crashed-swap leftover and deleted, and the swap's
    aside target could collide with it) and starts with an underscore,
    which Spark/Hadoop partition discovery skips — so concurrent
    readers never see a transient bogus partition value while a swap
    is in flight. A crash between the renames leaves the old copy at
    the aside — every intermediate state keeps at least one on-disk
    copy of the partition, and a failed rename-in restores dst from
    the aside before raising. A REPAIR PRE-PASS runs before anything
    reads ``path``: every leftover "_old.<part_col>=<v>" dir from a
    prior crashed run is restored (renamed back) when its partition
    dir is missing, or dropped as a stale duplicate when the swap had
    already completed (round-9 review: clearing asides inside the
    swap loop could delete the ONLY copy of a partition on re-run).
    The pre-pass also garbage-collects orphaned sibling
    "<path>_delete_staging_*" dirs left by runs that crashed between
    the staging write and the end of the swap loop (ADVICE r9 #4:
    without this, repeated crashes accumulate full survivor copies
    forever) — safe because this op owns the table during its
    maintenance window, so any staging dir present at entry is dead.
    Deliberately NO repair branch for the retired "<part>=<v>.old"
    aside form: it never shipped outside this repo's own history, and
    a legacy branch would reintroduce the exact ambiguity the rename
    removed (a real partition valued "v.old" would again be
    classifiable as a leftover).

    Two further delete-helper traps (round-7 review):
    - NULL predicate rows are KEPT: ``~pred`` is NULL for NULL
      inputs and a bare filter would silently drop non-targets, so
      the keep condition is ``~pred.eqNullSafe(True)``.
    - A partition whose rows ALL match has NO staging subdir (zero
      survivor rows); the swap still deletes its target dir, so the
      "delete everything in month X" case removes the directory
      instead of leaving its old files readable (partition values
      must be filesystem-safe; callers here use date strings).
      When EVERY row matches, every partition dir goes and the table
      is left empty and schemaless (only ``_SUCCESS``): a schemaless
      ``spark.read.parquet(path)`` then raises
      UNABLE_TO_INFER_SCHEMA, so readers of a possibly emptied table
      pass its schema (``spark.read.schema(...)``)."""
    import uuid

    from hive_to_es_spark.functions.merge import _hadoop_fs, fs_delete

    # repair pre-pass: heal any crashed swap BEFORE reading the table
    fs, root_p = _hadoop_fs(spark, path)
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    aside_prefix = f"_old.{part_col}="
    if fs.exists(root_p):
        for st in fs.listStatus(root_p):
            name = st.getPath().getName()
            # aside names live outside the partition namespace, so a
            # real partition can never be mistaken for a leftover
            if not name.startswith(aside_prefix):
                continue
            dst_p = jvm_path(root_p, name[len("_old.") :])
            if fs.exists(dst_p):
                fs.delete(st.getPath(), True)  # swap completed: stale copy
            elif not fs.rename(st.getPath(), dst_p):  # crashed mid-swap
                raise IOError(
                    f"repair rename {st.getPath()} -> {dst_p} failed; "
                    f"old copy left in place"
                )
        # GC staging dirs orphaned by a crash between the staging
        # write and the end of the swap loop (siblings of `path`,
        # never inside it — the repair above cannot race them)
        parent_p = root_p.getParent()
        staging_prefix = root_p.getName() + "_delete_staging_"
        if parent_p is not None and fs.exists(parent_p):
            for st in fs.listStatus(parent_p):
                if st.getPath().getName().startswith(staging_prefix):
                    fs.delete(st.getPath(), True)
        spark.catalog.refreshByPath(path)

    base = spark.read.parquet(path)
    is_target = pred.eqNullSafe(True)
    if affected is None:
        affected = [
            r[0]
            for r in base.filter(is_target).select(part_col).distinct().collect()
        ]
    survivors = base.filter(F.col(part_col).isin(affected) & ~is_target)
    staging = path.rstrip("/") + "_delete_staging_" + uuid.uuid4().hex
    try:
        (
            survivors.repartition(F.col(part_col))
            .write.mode("overwrite")
            .partitionBy(part_col)
            .parquet(staging)
        )
    except Exception:
        fs_delete(spark, staging)  # never leak a half-written staging dir
        raise
    for part in sorted(affected):
        src = f"{staging}/{part_col}={part}"
        dst = f"{path}/{part_col}={part}"
        old = f"{path}/_old.{part_col}={part}"
        fs, dst_p = _hadoop_fs(spark, dst)
        _, src_p = _hadoop_fs(spark, src)  # sibling => same filesystem
        _, old_p = _hadoop_fs(spark, old)
        # the repair pre-pass guarantees no aside dir exists here
        if fs.exists(dst_p) and not fs.rename(dst_p, old_p):
            raise IOError(
                f"rename-aside {dst} -> {old} failed; target untouched, "
                f"survivors intact at {src}"
            )
        if fs.exists(src_p) and not fs.rename(src_p, dst_p):
            fs.rename(old_p, dst_p)  # restore: swap failed, nothing lost
            raise IOError(
                f"rename {src} -> {dst} failed; original restored from "
                f"{old}, survivors intact at {src}"
            )
        fs.delete(old_p, True)
    fs_delete(spark, staging)
    spark.catalog.refreshByPath(path)
    return affected


_P21_ORACLE = """
SELECT
  CAST((SELECT count(*) FROM orders WHERE o_custkey % 97 <> 0) AS BIGINT)
    AS rows_after,
  CAST((SELECT count(DISTINCT o_custkey) FROM orders WHERE o_custkey % 97 = 0)
    AS BIGINT) AS users_forgotten,
  CAST((SELECT count(DISTINCT strftime(o_orderdate, '%Y-%m')) FROM orders)
    AS BIGINT) AS parts_total,
  CAST((SELECT count(DISTINCT strftime(o_orderdate, '%Y-%m')) FROM orders
        WHERE o_custkey % 97 = 0) AS BIGINT) AS parts_rewritten
"""


@register("p21_forget_keys", _P21_ORACLE)
def p21_forget_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compliance key deletion (GDPR/CCPA "right to be forgotten")
    over a partitioned lake table: remove every order of the
    forget-listed customers (o_custkey % 97 == 0 stands in for the
    request table) by REWRITING ONLY THE PARTITIONS THAT CONTAIN
    THEM — dynamic partition overwrite — never the whole table.

    The month-partitioned baseline is written in-op (b3's pattern);
    the affected-partition list is discovered with one pruned
    aggregate (bounded by |partitions|, the only driver-side state);
    the rewrite reads back JUST those months (directory pruning),
    drops the forget-listed rows, and overwrites with
    partitionOverwriteMode=dynamic so untouched month directories
    keep their original files byte-for-byte (asserted via file
    listings in tests/test_pipeline.py). At 100 TB this is the
    difference between rewriting ~50 month-partitions and rewriting
    the lake. The returned verification report (rows_after /
    users_forgotten / parts_total / parts_rewritten) is computed from
    the post-delete table + the pre-delete census and value-checked
    against the source-table oracle: equality proves the selective
    rewrite deleted exactly the targets and nothing else."""
    from hive_to_es_spark.pipeline import dataset_tmp_path

    o = load_tables(spark, sf_dir).orders.withColumn(
        "ym", F.date_format("o_orderdate", "yyyy-MM")
    )
    path = dataset_tmp_path("p21_orders_by_month", sf_dir)
    (
        o.repartition(F.col("ym"))
        .write.mode("overwrite")
        .partitionBy("ym")
        .parquet(path)
    )
    base = spark.read.parquet(path)
    forget = F.col("o_custkey") % 97 == 0
    # ONE census scan: the counts and the affected-month set together
    # (collect_set skips the NULLs of non-matching rows); the helper
    # then skips its own discovery scan via the affected param.
    pre = base.agg(
        F.count_distinct(F.when(forget, F.col("o_custkey"))).cast("bigint")
          .alias("users_forgotten"),
        F.count_distinct("ym").cast("bigint").alias("parts_total"),
        F.collect_set(F.when(forget, F.col("ym"))).alias("affected"),
    ).collect()[0]
    affected = sorted(pre.affected)
    selective_partition_delete(spark, path, "ym", forget, affected=affected)
    rows_after = spark.read.parquet(path).count()
    return spark.range(1).select(
        F.lit(rows_after).cast("bigint").alias("rows_after"),
        F.lit(pre.users_forgotten).cast("bigint").alias("users_forgotten"),
        F.lit(pre.parts_total).cast("bigint").alias("parts_total"),
        F.lit(len(affected)).cast("bigint").alias("parts_rewritten"),
    )


# p22 — small-file compaction: the lake maintenance op that undoes
# what streaming ingest and over-parallel writers do to a partitioned
# table (N writer tasks x M partition dirs = N*M tiny files; at 100 TB
# the NameNode/listing cost and per-file open overhead dominate reads
# long before data size does). The compaction knob is the REAL
# production one — maxRecordsPerFile — under a repartition(lang) that
# lands every partition's rows in one task, making the output layout
# deterministic: exactly ceil(rows/R) files per partition dir. That
# determinism is what lets the FILE COUNT itself be value-verified
# cross-engine (the oracle recomputes ceil(count/R) from the source
# table) instead of merely asserted smaller; rows and content hashes
# prove the rewrite moved bytes without losing or duplicating any.
# R sized so the compacted layout stays BELOW the 16-file fragmented
# baseline at every checked SF (largest fixture partition ~2.2k rows
# at sf0.1 -> ceil/200 = 11 files) while sf0.01's largest still spans
# multiple files — both the "fewer files" and the "exactly ceil"
# claims stay non-vacuous at both oracle SFs.
_P22_R = 200

_P22_ORACLE = f"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST((count(*) + {_P22_R - 1}) // {_P22_R} AS BIGINT) AS n_files,
       CAST(sum({md5_60_sql("doc_id")} % 1000000) AS BIGINT) AS id_hash_sum,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang
"""


@register("p22_compact_small_files", _P22_ORACLE)
def p22_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction of a lang-partitioned documents table
    (see module comment above): a deliberately fragmented baseline
    (16 writer tasks x |langs| dirs) is rewritten via
    repartition(lang) + maxRecordsPerFile to exactly ceil(rows/R)
    files per partition dir.

    The returned report reads ONLY the compacted table: per-lang row
    count, DISTINCT `_metadata.file_name` count (b9's hidden scan
    column — the physical layout, not a plan promise), the o4-family
    id-hash sum and char sum. Hash equality with the source-table
    oracle proves no row was lost or duplicated in the rewrite; the
    n_files match proves the layout landed exactly where the knob put
    it. tests/test_pipeline.py additionally asserts the before-layout
    really was fragmented (compaction tested against something)."""
    from hive_to_es_spark.pipeline import dataset_tmp_path

    docs = load_tables(spark, sf_dir).documents
    frag_path = dataset_tmp_path("p22_frag_docs", sf_dir)
    (
        docs.repartition(16)
        .write.mode("overwrite")
        .partitionBy("lang")
        .parquet(frag_path)
    )
    compact_path = dataset_tmp_path("p22_compact_docs", sf_dir)
    (
        spark.read.parquet(frag_path)
        .repartition(F.col("lang"))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", _P22_R)
        .partitionBy("lang")
        .parquet(compact_path)
    )
    comp = spark.read.parquet(compact_path)
    return comp.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct(F.col("_metadata.file_name")).cast("bigint").alias("n_files"),
        F.sum(hash_bucket("doc_id", 1_000_000)).cast("bigint").alias("id_hash_sum"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


# p23 — ANALYZE-style per-column profile in ONE corpus scan.
_P23_COLS = ["doc_id", "text", "lang", "source", "n_chars"]

_P23_ORACLE = """
WITH s AS (
  SELECT {aggs}
  FROM documents
)
{unions}
"""


def _p23_oracle() -> str:
    aggs = ",\n         ".join(
        f"CAST(count(DISTINCT {c}) AS BIGINT) AS ndv_{c},\n"
        f"         CAST(count(*) - count({c}) AS BIGINT) AS nulls_{c},\n"
        f"         CAST(min({c}) AS VARCHAR) AS min_{c},\n"
        f"         CAST(max({c}) AS VARCHAR) AS max_{c},\n"
        f"         CAST(coalesce(sum(length(CAST({c} AS VARCHAR))), 0)"
        f" AS BIGINT) AS len_{c}"
        for c in _P23_COLS
    )
    unions = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS col_name, ndv_{c} AS ndv, nulls_{c} AS n_nulls,"
        f" min_{c} AS min_val, max_{c} AS max_val, len_{c} AS total_len FROM s"
        for c in _P23_COLS
    )
    return _P23_ORACLE.format(aggs=aggs, unions=unions)


@register("p23_table_profile", _p23_oracle())
def p23_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style table profile: one row per column of `documents`
    with exact NDV, null count, min/max (rendered as strings) and
    total rendered length — the statistics a catalog/optimizer stores
    (join-size estimates, dictionary-encoding decisions) and the
    first report a data engineer pulls on an unfamiliar 100 TB table.
    p19 answers "does the data satisfy THESE constraints"; p23
    answers "what does the data look like" with no constraints given.

    Plan shape: ONE scan computes all 25 aggregates — the 5 exact
    countDistincts on different columns make Catalyst plan a single
    Expand (5x row multiply map-side, each replica carrying one
    column + a gid) feeding a two-phase distinct-aggregate, so the
    full rows never shuffle; min/max/length piggyback on the same
    pass. The 5-row unpivot is a stack() over the 1-row aggregate.
    Exact NDV is the deliberate contract here (it IS the oracle-able
    spec); the sketch form for wider tables is a8's approx HLL.
    String min/max compare UTF-8 code points identically in both
    engines; lengths are character counts in both."""
    d = load_tables(spark, sf_dir).documents
    aggs = []
    for c in _P23_COLS:
        aggs += [
            F.countDistinct(F.col(c)).cast("bigint").alias(f"ndv_{c}"),
            (F.count("*") - F.count(F.col(c))).cast("bigint").alias(f"nulls_{c}"),
            F.min(F.col(c)).cast("string").alias(f"min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"max_{c}"),
            F.coalesce(F.sum(F.length(F.col(c).cast("string"))), F.lit(0))
            .cast("bigint")
            .alias(f"len_{c}"),
        ]
    stack_args = ", ".join(
        f"'{c}', ndv_{c}, nulls_{c}, min_{c}, max_{c}, len_{c}" for c in _P23_COLS
    )
    return d.agg(*aggs).selectExpr(
        f"stack({len(_P23_COLS)}, {stack_args}) AS "
        "(col_name, ndv, n_nulls, min_val, max_val, total_len)"
    )


def scd2_from_changes(s: DataFrame) -> DataFrame:
    """Core of p24, DataFrame-in/DataFrame-out so property tests can
    drive the SHIPPED plan over arbitrary change logs: input columns
    (user_id, signup_id, vf, tier) — ordered by (vf, signup_id) per
    user; output change-suppressed SCD2 versions. See p24's docstring
    for the null-safe change-detection argument."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("vf").asc(), F.col("signup_id").asc()
    )
    chg = s.withColumn("rn", F.row_number().over(w)).withColumn(
        "prev_tier", F.lag("tier").over(w)
    )
    kept = chg.filter(
        (F.col("rn") == 1) | ~F.col("tier").eqNullSafe(F.col("prev_tier"))
    )
    return kept.select(
        "user_id",
        F.row_number().over(w).cast("bigint").alias("version_n"),
        "signup_id",
        "tier",
        F.col("vf").alias("valid_from_us"),
        F.lead("vf").over(w).alias("valid_to_us"),
        F.when(F.lead("vf").over(w).isNull(), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("is_current"),
    )


# p24 — build an SCD2 dimension FROM a change log. j15 consumes SCD2
# (point-in-time join); this is the producer: signup events become
# versioned rows, with no-op changes (same payload as the previous
# version) suppressed — the change-detection step that separates a
# real SCD2 build from a naive snapshot append.
_P24_ORACLE = """
WITH s AS (
  SELECT user_id, event_id AS signup_id,
         CAST(epoch_us(ts) AS BIGINT) AS vf,
         CAST(floor(value / 20) AS BIGINT) AS tier
  FROM events WHERE event_type = 'signup' AND ts IS NOT NULL
),
chg AS (
  SELECT *, row_number() OVER w AS rn, lag(tier) OVER w AS prev_tier
  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY vf, signup_id)
),
kept AS (
  SELECT * FROM chg WHERE rn = 1 OR tier IS DISTINCT FROM prev_tier
)
SELECT user_id,
       CAST(row_number() OVER w2 AS BIGINT) AS version_n,
       signup_id, tier,
       vf AS valid_from_us,
       lead(vf) OVER w2 AS valid_to_us,
       CAST(CASE WHEN lead(vf) OVER w2 IS NULL THEN 1 ELSE 0 END AS BIGINT)
         AS is_current
FROM kept WINDOW w2 AS (PARTITION BY user_id ORDER BY vf, signup_id)
"""


@register("p24_scd2_build", _P24_ORACLE)
def p24_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a slowly-changing-dimension type 2 table from a change
    log: each user's signup events, ordered by time, become dimension
    VERSIONS — but only when the payload (tier = floor(value/20), a
    small banded domain so repeat-tier signups really occur in the
    fixtures) actually CHANGES; a re-signup at the same tier is a
    no-op update and must NOT open a version (375 such suppressions
    at sf0.01 — the branch is exercised, not decorative). Each kept
    version carries [valid_from, valid_to) in integer epoch-µs and an
    is_current flag; j15 is the reader of exactly this shape.

    Plan: one Exchange on user_id and ONE sort serve everything — the
    (row_number, lag) change-detection window, the filter, and the
    (version_n, lead) validity window run on the same partitioning and
    ordering, which filter preserves, so Catalyst stacks both Window
    nodes over a single shuffle (plan-pinned). Change detection is
    IS DISTINCT FROM (null-safe: a NULL-payload version followed by
    another NULL is a no-op, mirrored via ~eqNullSafe); rn=1 keeps the
    first version even when its payload is NULL. floor() not round()
    for the band so no .5-boundary rounding can split the engines."""
    s = (
        load_tables(spark, sf_dir)
        .events.filter(
            (F.col("event_type") == "signup") & F.col("ts").isNotNull()
        )
        .select(
            "user_id",
            F.col("event_id").alias("signup_id"),
            F.unix_micros("ts").alias("vf"),
            F.floor(F.col("value") / 20).cast("bigint").alias("tier"),
        )
    )
    return scd2_from_changes(s)


# p25 — the corpus "dataset card": the composition table (docs/chars
# and their ppm shares per (lang, source) cell, ranked by weight)
# every training-data release publishes, and the first artifact a
# mixture decision (o6/o10/o12) is made FROM.
_P25_ORACLE = """
WITH g AS (
  SELECT lang, source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_chars
  FROM documents GROUP BY lang, source
),
t AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS td, CAST(sum(n_chars) AS BIGINT) AS tc
  FROM g
)
SELECT lang, source, n_docs, n_chars,
       n_docs * 1000000 // td AS docs_ppm,
       n_chars * 1000000 // tc AS chars_ppm,
       CAST(row_number() OVER (ORDER BY n_chars DESC, lang, source) AS BIGINT)
         AS weight_rank
FROM g, t
"""


@register("p25_dataset_card", _P25_ORACLE)
def p25_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition datasheet: one row per (lang, source) cell
    with document/character counts, integer parts-per-million shares
    of the whole corpus, and a weight rank — the "what is this
    dataset made of" table that precedes every mixture decision
    (o6/o10/o12 consume exactly these cells) and that dataset cards
    publish. p23 profiles COLUMNS; p25 profiles the CONTENT mix.

    ONE partial-combined aggregate over documents reduces the corpus
    map-side to |langs|×|sources| rows — the corpus is scanned once
    (plan-pinned; deriving the grand total from a second aggregate of
    the base table would scan it twice). Totals and rank both come
    from unpartitioned windows over the tiny cell table (|cells| rows
    on one task — the a19/w10 tiny-input justification); shares are
    exact bigint floor-division ppm (DIV / // agree on non-negatives
    — no float ratio crosses the engines) and the rank ordering
    carries full tie-breaks so row_number is deterministic."""
    d = load_tables(spark, sf_dir).documents
    g = d.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )
    w_all = Window.partitionBy()
    wr = Window.orderBy(
        F.col("n_chars").desc(), F.col("lang").asc(), F.col("source").asc()
    )
    return g.select(
        "lang",
        "source",
        "n_docs",
        "n_chars",
        F.sum("n_docs").over(w_all).alias("td"),
        F.sum("n_chars").over(w_all).alias("tc"),
        F.row_number().over(wr).cast("bigint").alias("weight_rank"),
    ).selectExpr(
        "lang",
        "source",
        "n_docs",
        "n_chars",
        "n_docs * 1000000 DIV td AS docs_ppm",
        "n_chars * 1000000 DIV tc AS chars_ppm",
        "weight_rank",
    )


# ---------------------------------------------------------------------------
# p26 — the composed modern LLM corpus pipeline in ONE key (round 14,
# VERDICT r13 task 3): the FineWeb/RefinedWeb recipe whose stages the
# inventory already ships separately, chained with per-stage removal
# accounting (the ablation-table shape those papers publish):
#
#   1 url_canon      x14's canonicalization, keep-min per canonical
#                    URL (4 rendered surface forms per page:
#                    variant = doc_id % 4, page = doc_id DIV 4 — the
#                    x14 rendering re-parameterized so the group size
#                    scales WITH the corpus instead of being fixed)
#   2 langid         t7's n-gram detector (trained on the full raw
#                    corpus — the pretrained-detector stance), keep
#                    predictions in (en, de, fr) — t3's gate
#   3 quality        t4's quality score >= 0.5 (drop the 'low' tier)
#   4 repetition     t11's top-unigram fraction <= 0.11 AND t21's
#                    duplicate-line rule (<= 300000 ppm over t13's
#                    3-token chunks of the RAW text — no decoration)
#   5 entropy        t24's character entropy at a stricter 2.7-nat
#                    gate (clean fixture docs span 2.547..2.932 and
#                    the ~2% low tail of gate-1..4 survivors sits
#                    below 2.7 — measured at sf0.1 — so the arm is
#                    non-vacuous without rendering)
#   6 near_dedup     d11's banded-MinHash + exact-verify pairs at
#                    J >= 0.2 AMONG STAGE-5 SURVIVORS, keep-min
#                    (drop every doc_b of a pair — a doc with any
#                    smaller-id near-duplicate surviving the gates)
#   7 decontaminate  t14's GRADED policy (eval = raw docs with
#                    doc_id % 29 = 0): drop only when >= 50% of a
#                    doc's distinct shingles hit the eval set —
#                    t9's any-hit rule removes the ENTIRE fixture
#                    corpus (shared 31-word vocabulary; measured
#                    833/833 at sf0.1), while the graded drop takes
#                    ~6% plus every eval member (100% self-overlap)
#   8 mixture        o10's temperature resampling (alpha = 0.5,
#                    100-doc budget) over the stage-7 survivor
#                    language census
#
# Output: one accounting row per stage (stage_no, stage, n_in,
# n_removed, n_out) — 8 rows at any corpus size.
#
# PLAN: every per-doc gate (url canon + quality + repetition +
# entropy) is computed in ONE fused corpus scan projection (p10's
# one-Catalyst-plan discipline — the canon keep-min window is the
# first exchange). The features are the single-op definitions, not
# copies: quality_expr (t4), top_unigram_frac (t11), token_lines
# (t13/t21's chunker), char_entropy (t24) and shingle_rows /
# shingle_sql (the shared 3-word shingles of t9/t14/d11). The langid
# prediction and the decontamination flag join back doc_id-keyed (t3/t9 precedent — co-partitioned corpus
# joins, the standard shape; the eval shingle set itself is a
# broadcast). The finished gate frame is materialized ONCE (the o15
# checkpoint discipline — it feeds the near-dup miner, the survivor
# census AND the level census; lazy, the corpus gate scans would
# re-instantiate 3x). Near-dup runs d11's machinery unchanged (banded
# candidates + exact verify, no all-pairs anywhere); the mixture
# census/quota is a broadcast back. The final accounting join is an
# 8 x <=9 bounded broadcast theta join.
#
# Per-doc level = FIRST FAILING STAGE (9 = survived all): the stage
# table derives n_in/n_removed/n_out for every stage from one bounded
# level census — no per-stage recount of the corpus.
#
# The ORACLE restates every stage predicate relationally over the
# same shared SQL (url render/canon helpers, LANGID_CTES,
# QUALITY_CTE_SQL, the token_lines_sql chunker, d10/d11's
# exact-Jaccard jaccard_pair_ctes, o10's integer quota math) and
# derives the same level census — engine drift in ANY stage shifts at
# least one accounting cell.
# ---------------------------------------------------------------------------

_P26_LANGS = ("en", "de", "fr")
_P26_QUALITY_MIN = 0.5
_P26_MIN_ENT = 2.7
_P26_ND_THRESHOLD = 0.2
_P26_EVAL_MOD = 29
_P26_DECON_PPM = 500_000  # t14's 'drop' threshold
_P26_MIX_BUDGET = 100
_P26_STAGES = (
    "url_canon",
    "langid",
    "quality",
    "repetition",
    "entropy",
    "near_dedup",
    "decontaminate",
    "mixture",
)


def _p26_oracle() -> str:
    from hive_to_es_spark.operators.dedup import shingle_sql
    from hive_to_es_spark.operators.dedup_ext import jaccard_pair_ctes
    from hive_to_es_spark.operators.scalars import (
        surface_url_sql,
        url_canon_sql,
    )
    from hive_to_es_spark.operators.text_ext import (
        _T11_TOP_FRAC,
        _T21_DUP_PPM,
        _T21_LINE_TOKS,
        LANGID_CTES,
        QUALITY_CTE_SQL,
        token_lines_sql,
    )

    langid_frag = LANGID_CTES.strip()[len("WITH ") :]
    url = surface_url_sql(
        "doc_id % 4", "doc_id // 4", "(doc_id // 4) % 7"
    )
    stage_values = ", ".join(
        f"({i + 1}, '{s}')" for i, s in enumerate(_P26_STAGES)
    )
    return f"""
WITH {langid_frag},
{QUALITY_CTE_SQL},
base AS (SELECT doc_id, text, lang FROM documents WHERE text IS NOT NULL),
canon AS (
  SELECT doc_id, {url_canon_sql(f'({url})')} AS curl
  FROM base
),
g1 AS (
  SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY curl) AS canon_keep
  FROM canon
),
g2 AS (
  SELECT b.doc_id,
         coalesce(p.predicted IN {str(tuple(_P26_LANGS))}, FALSE) AS lang_ok
  FROM base b
  LEFT JOIN (SELECT doc_id, predicted FROM best WHERE rn = 1) p USING (doc_id)
),
g3 AS (SELECT doc_id, quality >= {_P26_QUALITY_MIN} AS q_ok FROM scored),
repl AS (
  SELECT doc_id, toks, {token_lines_sql("toks", _T21_LINE_TOKS)} AS ls
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM base)
),
g4 AS (
  SELECT doc_id,
         round(CAST(list_max(list_transform(list_distinct(toks),
                     w -> len(list_filter(toks, x -> x = w)))) AS DOUBLE)
               / len(toks), 6) <= {_T11_TOP_FRAC}
         AND (len(ls) - len(list_distinct(ls))) * 1000000 // len(ls)
             <= {_T21_DUP_PPM} AS rep_ok
  FROM repl
),
ch AS (SELECT doc_id, unnest(string_split(lower(text), '')) AS c FROM base),
cc AS (SELECT doc_id, c, CAST(count(*) AS BIGINT) AS n
       FROM ch WHERE c <> '' GROUP BY doc_id, c),
ctot AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS t FROM cc GROUP BY doc_id),
entr AS (
  SELECT cc.doc_id, -sum((n / t.t) * ln(n / t.t)) AS ent
  FROM cc JOIN ctot t USING (doc_id) GROUP BY cc.doc_id
),
g5 AS (
  SELECT b.doc_id, coalesce(round(e.ent, 4) >= {_P26_MIN_ENT}, FALSE) AS ent_ok
  FROM base b LEFT JOIN entr e USING (doc_id)
),
sh AS (
  {shingle_sql("base")}
),
eval_sh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {_P26_EVAL_MOD} = 0),
decs AS (
  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_sh,
         CAST(count(e.shingle) AS BIGINT) AS n_hit
  FROM sh s LEFT JOIN eval_sh e USING (shingle) GROUP BY s.doc_id
),
dec AS (
  SELECT doc_id FROM decs WHERE n_hit * 1000000 // n_sh >= {_P26_DECON_PPM}
),
s5 AS (
  SELECT b.doc_id, b.text, b.lang
  FROM base b JOIN g1 USING (doc_id) JOIN g2 USING (doc_id)
       JOIN g3 USING (doc_id) JOIN g4 USING (doc_id) JOIN g5 USING (doc_id)
  WHERE canon_keep AND lang_ok AND q_ok AND rep_ok AND ent_ok
),
sh5 AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN s5 USING (doc_id)),
{jaccard_pair_ctes("sh5", _P26_ND_THRESHOLD)},
nd_drop AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
s7 AS (
  SELECT * FROM s5
  WHERE doc_id NOT IN (SELECT doc_id FROM nd_drop)
    AND doc_id NOT IN (SELECT doc_id FROM dec)
),
mcounts AS (SELECT lang, CAST(count(*) AS BIGINT) AS c FROM s7 GROUP BY lang),
mweights AS (
  SELECT lang, c, CAST(floor(sqrt(c) * 1000000) AS BIGINT) AS w FROM mcounts
),
mquota AS (
  SELECT lang,
         CAST(({_P26_MIX_BUDGET} * w * 1000000)
              // ((SELECT sum(w) FROM mweights) * c) AS BIGINT) AS thresh_ppm
  FROM mweights
),
mix AS (
  SELECT s.doc_id
  FROM s7 s JOIN mquota q USING (lang)
  WHERE {md5_60_sql("s.doc_id")} % 1000000 < q.thresh_ppm
),
lvt AS (
  SELECT b.doc_id,
    CASE WHEN NOT g1.canon_keep THEN 1
         WHEN NOT g2.lang_ok THEN 2
         WHEN NOT g3.q_ok THEN 3
         WHEN NOT g4.rep_ok THEN 4
         WHEN NOT g5.ent_ok THEN 5
         WHEN b.doc_id IN (SELECT doc_id FROM nd_drop) THEN 6
         WHEN b.doc_id IN (SELECT doc_id FROM dec) THEN 7
         WHEN b.doc_id NOT IN (SELECT doc_id FROM mix) THEN 8
         ELSE 9 END AS lv
  FROM base b JOIN g1 USING (doc_id) JOIN g2 USING (doc_id)
       JOIN g3 USING (doc_id) JOIN g4 USING (doc_id) JOIN g5 USING (doc_id)
),
census AS (SELECT lv, CAST(count(*) AS BIGINT) AS cnt FROM lvt GROUP BY lv),
stages AS (SELECT * FROM (VALUES {stage_values}) AS t(stage_no, stage))
SELECT CAST(s.stage_no AS BIGINT) AS stage_no, s.stage,
       CAST(coalesce(sum(c.cnt), 0) AS BIGINT) AS n_in,
       CAST(coalesce(sum(CASE WHEN c.lv = s.stage_no THEN c.cnt END), 0)
            AS BIGINT) AS n_removed,
       CAST(coalesce(sum(CASE WHEN c.lv > s.stage_no THEN c.cnt END), 0)
            AS BIGINT) AS n_out
FROM stages s LEFT JOIN census c ON c.lv >= s.stage_no
GROUP BY s.stage_no, s.stage
"""


def p26_gate_frame(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """p26's per-doc gate frame, LAZY (exposed for the plan pin):
    (doc_id, text, lang, g_canon, g_lang, g_quality, g_rep, g_ent,
    dec_hit). All scalar gates ride one fused scan projection; the
    canon keep-min is a hash-partitioned window on the canonical URL;
    langid predictions and the decontamination flag join back
    doc_id-keyed."""
    from hive_to_es_spark.operators.dedup import shingle_rows
    from hive_to_es_spark.operators.scalars import (
        render_surface_url,
        url_canonicalize,
    )
    from hive_to_es_spark.operators.text_ext import (
        _T11_TOP_FRAC,
        _T21_DUP_PPM,
        _T21_LINE_TOKS,
        char_entropy,
        langid_predictions,
        quality_expr,
        token_lines,
        top_unigram_frac,
    )

    variant = F.col("doc_id") % 4
    page = F.expr("doc_id DIV 4")
    curl = url_canonicalize(render_surface_url(variant, page, page % 7))
    quality, _ = quality_expr()
    f0 = (
        docs.withColumn("_curl", curl)
        .withColumn("_toks", F.split("text", " "))
        .withColumn("_ls", token_lines(_T21_LINE_TOKS))
        .withColumn("_q", quality)
        .withColumn("_tf", top_unigram_frac(F.col("_toks")))
        .withColumn(
            "_dup_ppm",
            F.expr(
                "(size(_ls) - size(array_distinct(_ls)))"
                " * 1000000 DIV size(_ls)"
            ),
        )
        .withColumn(
            "_canon_keep",
            F.col("doc_id")
            == F.min("doc_id").over(Window.partitionBy("_curl")),
        )
    )
    f0 = char_entropy(f0, "text")
    pred = langid_predictions(docs).select("doc_id", "predicted")
    sh = shingle_rows(docs)
    eval_sh = (
        sh.filter(F.col("doc_id") % _P26_EVAL_MOD == 0)
        .select("shingle")
        .distinct()
    )
    decs = (
        sh.join(
            F.broadcast(eval_sh.withColumn("_hit", F.lit(1))),
            "shingle",
            "left",
        )
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_sh"), F.count("_hit").alias("n_hit"))
    )
    dec = (
        decs.filter(
            F.expr(f"n_hit * 1000000 DIV n_sh >= {_P26_DECON_PPM}")
        )
        .select("doc_id")
        .withColumn("_dec_hit", F.lit(True))
    )
    return (
        f0.join(pred, "doc_id", "left")
        .join(dec, "doc_id", "left")
        .select(
            "doc_id",
            "text",
            "lang",
            F.col("_canon_keep").alias("g_canon"),
            F.coalesce(
                F.col("predicted").isin(*_P26_LANGS), F.lit(False)
            ).alias("g_lang"),
            (F.col("_q") >= _P26_QUALITY_MIN).alias("g_quality"),
            (
                (F.col("_tf") <= _T11_TOP_FRAC)
                & (F.col("_dup_ppm") <= _T21_DUP_PPM)
            ).alias("g_rep"),
            F.coalesce(
                F.round(F.col("_ent"), 4) >= _P26_MIN_ENT, F.lit(False)
            ).alias("g_ent"),
            F.coalesce(F.col("_dec_hit"), F.lit(False)).alias("dec_hit"),
        )
    )


@register("p26_llm_corpus_pipeline", _p26_oracle())
def p26_llm_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed modern LLM corpus pipeline with per-stage removal
    accounting (see the block comment): URL canon -> langid ->
    quality -> repetition -> entropy -> near-dedup -> decontaminate ->
    temperature mixture, emitting (stage_no, stage, n_in, n_removed,
    n_out) per stage from one bounded level census."""
    from hive_to_es_spark.functions.lifecycle import materialize
    from hive_to_es_spark.operators.dedup_ext import (
        minhash_verified_jaccard_pairs,
    )

    d = load_tables(spark, sf_dir).documents.filter(
        F.col("text").isNotNull()
    )
    gates = materialize(p26_gate_frame(spark, d))
    s5 = gates.filter(
        "g_canon AND g_lang AND g_quality AND g_rep AND g_ent"
    )
    nd = (
        minhash_verified_jaccard_pairs(
            s5.select("doc_id", "text"), threshold=_P26_ND_THRESHOLD
        )
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("_nd", F.lit(True))
    )
    g = gates.join(nd, "doc_id", "left")
    s7 = g.filter(
        "g_canon AND g_lang AND g_quality AND g_rep AND g_ent"
        " AND _nd IS NULL AND NOT dec_hit"
    )
    counts = s7.groupBy("lang").agg(F.count("*").cast("bigint").alias("c"))
    weights = counts.withColumn(
        "w", F.floor(F.sqrt("c") * F.lit(1_000_000.0)).cast("bigint")
    )
    sumw = weights.agg(F.sum("w").cast("bigint").alias("sw"))
    quota = weights.crossJoin(F.broadcast(sumw)).selectExpr(
        "lang",
        f"CAST(CAST({_P26_MIX_BUDGET} AS DECIMAL(38,0)) * w * 1000000"
        " DIV (CAST(sw AS DECIMAL(38,0)) * c) AS BIGINT) AS thresh_ppm",
    )
    g = g.join(F.broadcast(quota), "lang", "left")
    mix_keep = hash_bucket("doc_id", 1_000_000) < F.col("thresh_ppm")
    lv = (
        F.when(~F.col("g_canon"), 1)
        .when(~F.col("g_lang"), 2)
        .when(~F.col("g_quality"), 3)
        .when(~F.col("g_rep"), 4)
        .when(~F.col("g_ent"), 5)
        .when(F.col("_nd").isNotNull(), 6)
        .when(F.col("dec_hit"), 7)
        .when(~mix_keep, 8)
        .otherwise(9)
    )
    census = (
        g.select(lv.alias("lv"))
        .groupBy("lv")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    stages = spark.createDataFrame(
        [(i + 1, s) for i, s in enumerate(_P26_STAGES)],
        "stage_no long, stage string",
    )
    return (
        stages.join(
            F.broadcast(census), F.col("lv") >= F.col("stage_no"), "left"
        )
        .groupBy("stage_no", "stage")
        .agg(
            F.coalesce(F.sum("cnt"), F.lit(0))
            .cast("bigint")
            .alias("n_in"),
            F.coalesce(
                F.sum(
                    F.when(F.col("lv") == F.col("stage_no"), F.col("cnt"))
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_removed"),
            F.coalesce(
                F.sum(
                    F.when(F.col("lv") > F.col("stage_no"), F.col("cnt"))
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_out"),
        )
    )


# ---------------------------------------------------------------------------
# p27 — shard EXPORT through the two-phase-commit writer (round 14,
# VERDICT r13 task 5): p12 ASSIGNS docs to token-budgeted shards and
# b11 ships an atomic custom sink, but nothing wrote actual training
# shards through it. p27 closes the loop — the WebDataset-style
# export step of a training-data pipeline: assign every document its
# shard (shard_assign_rows: p12's greedy start-offset packing,
# per-row), repartition BY shard_id so shard contents land contiguous
# in the staged files, stream the corpus out through the 'pyatomic'
# Arrow writer (tasks stage, driver commit renames — b11's machinery
# unchanged), read the COMMITTED files back, and emit the shard
# MANIFEST: per shard (n_docs, total_weight, min/max key) plus a
# content signature (sum of per-doc 60-bit md5(text) residues) that
# would catch any lost, duplicated or mangled row — the roundtrip
# through the sink is what the hash gate proves.
#
# The ORACLE never touches the filesystem: it restates the manifest
# straight from `documents` via p12's naive global running-sum window
# — so Spark's two-pass shard math AND the sink's atomicity are both
# under the same hash. The abort path (poison row -> zero committed
# files, no manifest) is re-proven for THIS export in
# tests/test_pipeline.py using b11's poison hook.
#
# Scale notes: one repartition(shard_id) exchange routes each shard's
# docs to one task (shards are budget-bounded, so a task holds
# ~budget bytes; the writer streams Arrow batches — per-task memory
# stays O(batch)); commit is |tasks| metadata renames. File layout is
# tasks-not-shards (a task may carry several whole shards — hash
# routing); the manifest, not the file boundary, is the shard
# contract, exactly like a WebDataset index file.
# ---------------------------------------------------------------------------

_P27_BUDGET = 50_000  # chars per shard — p12's contract

_P27_ORACLE = f"""
WITH assigned AS (
  SELECT doc_id, n_chars, text,
         CAST((sum(n_chars) OVER (ORDER BY doc_id) - n_chars)
              // {_P27_BUDGET} AS BIGINT) AS shard_id
  FROM documents
)
SELECT shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_weight,
       min(doc_id) AS min_key,
       max(doc_id) AS max_key,
       CAST(sum({md5_60_sql("text")} % 1000000000) AS BIGINT) AS content_sig
FROM assigned GROUP BY shard_id
"""


def export_shards(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    budget: int = _P27_BUDGET,
    poison: int | None = None,
) -> None:
    """Assign (doc_id, n_chars, text) rows to weight-budgeted shards
    and write them through the pyatomic two-phase-commit sink —
    shard-contiguous within staged files. `poison` forwards b11's
    test hook (a doc_id the sink refuses mid-job, proving the abort
    path leaves zero committed files for THIS export too)."""
    import os

    from hive_to_es_spark.functions.merge import fs_delete

    _b11_register_sink(spark)
    fs_delete(spark, path)
    os.makedirs(path, exist_ok=True)
    assigned = shard_assign_rows(
        docs, "doc_id", "n_chars", budget,
        spark.sparkContext.defaultParallelism,
    ).select("shard_id", "doc_id", "n_chars", "text")
    writer = (
        assigned.repartition(F.col("shard_id"))
        .sortWithinPartitions("shard_id", "doc_id")
        .write.format("pyatomic")
        .option("path", path)
    )
    if poison is not None:
        # poison matches against the FIRST column: shard_id here, so
        # route the hook through doc_id ordering by reordering cols
        writer = (
            assigned.select("doc_id", "shard_id", "n_chars", "text")
            .repartition(F.col("shard_id"))
            .sortWithinPartitions("shard_id", "doc_id")
            .write.format("pyatomic")
            .option("path", path)
            .option("poison", str(poison))
        )
    writer.mode("append").save()


@register("p27_shard_export", _P27_ORACLE)
def p27_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted training-shard export + manifest (see the block
    comment): p12's shard assignment written through b11's atomic
    Python DataSource sink, read back from the COMMITTED files, and
    summarized per shard with a content signature — the hash gate
    proves the full assign -> stage -> commit -> read-back loop
    lossless against a filesystem-free oracle."""
    from hive_to_es_spark.pipeline import dataset_tmp_path

    d = load_tables(spark, sf_dir).documents.select(
        "doc_id", "n_chars", "text"
    )
    out = dataset_tmp_path("p27_shards", sf_dir)
    export_shards(spark, d, out)
    back = spark.read.parquet(out)
    return back.groupBy("shard_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_weight"),
        F.min("doc_id").alias("min_key"),
        F.max("doc_id").alias("max_key"),
        F.sum(hash_bucket(F.col("text"), 1_000_000_000))
        .cast("bigint")
        .alias("content_sig"),
    )
