"""Config-driven source -> transform -> sink jobs — the reference
tool's actual identity (SURVEY.md §2.A, §3.1).

A hive_to_es-class tool is a thin pipeline: a config file lists jobs
(source table or custom SQL, optional incremental predicate, column
projection/rename, document-id column, target index, full vs
incremental mode); the tool loops over jobs, ships the query to the
engine, and bulk-writes the rows to the sink. Here the engine IS
Spark: the job spec compiles to a DataFrame plan (so Catalyst pushes
the incremental predicate into the scan) and the sink is a DataFrame
writer — the elasticsearch-hadoop connector in production, parquet in
this test environment (no ES available; io.es_writer_options carries
the connector mapping).

Scale posture: a job never materializes rows on the driver. Source ->
sink is executor-parallel end to end; partitions are the bulk batches
(es.batch.size.* tunes the per-partition HTTP chunking). Each job is
ONE Spark pass: the sink counts the rows it writes on the write itself
(an Observation on parquet writes, an accumulator inside the es_http
bulk tasks), so the reported count is the written count and source ->
transform never runs a second time to produce it. The production
connector branch (`es`) is the exception: it still counts with
df.count(), because an Observation is not filled through the
connector's save (write_sink). The es_http sink spreads every source
across the session's defaultParallelism cores by hash-repartitioning
on the document id (es_http.bulk_index).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from hive_to_es_spark.io import es_writer_options, load_tables

# Repo-local scratch space for sink roundtrips (test env only).
TMP_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")


# Per-process token: every operator that writes a derived artifact and
# reads it back does so within one call, so scoping scratch paths to
# the process (in addition to the sf_dir digest below) makes CONCURRENT
# sessions against the SAME sf_dir safe too — without it, one session's
# overwrite could interleave with another's read-back (observed round
# 11 as a transient s18 failure when tools/check.py ran alongside
# pytest).
_PROC_TOKEN = f"{os.getpid():x}"


def dataset_tmp_path(name: str, sf_dir: str) -> str:
    """Scratch path for data DERIVED from a source dataset, keyed on
    the RESOLVED source path (sha256 suffix) AND the current process:
    sessions running the same operator against different sf_dirs — or
    two concurrent sessions against the SAME sf_dir — must never
    interleave one directory's overwrite-write with the other's
    read-back. Same digest scheme as b4's bucketed-table names; use
    this helper instead of a bare TMP_ROOT join whenever the written
    bytes depend on sf_dir."""
    import hashlib

    digest = hashlib.sha256(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    return os.path.join(TMP_ROOT, f"{name}_{digest}_{_PROC_TOKEN}")


@dataclass(frozen=True)
class Job:
    """One sync job, mirroring the reference's per-job config block."""

    name: str
    source_table: str | None = None  # named fixture table ...
    source_sql: str | None = None  # ... or a custom SELECT (HiveQL-passthrough heir)
    catalog_table: str | None = None  # ... or a catalog table (spark.table — the Hive path)
    incremental_filter: str | None = None  # SQL predicate appended for incremental mode
    columns: dict[str, str] | None = None  # out_name -> source expression (project/rename)
    id_column: str | None = None  # document identity -> es.mapping.id / upsert
    mode: str = "overwrite"  # full = overwrite, incremental = append
    sink_format: str = "parquet"  # "parquet" here; "es" in production
    sink_path: str | None = None  # parquet sink target
    partition_by: tuple[str, ...] = ()  # sink partition columns (date-partitioned syncs)
    es_index: str | None = None  # ES sink target
    batch_entries: int = 1000  # bulk chunk size (sink option)
    options: dict[str, str] = field(default_factory=dict)


def build_source(spark: SparkSession, sf_dir: str, job: Job) -> DataFrame:
    """Source stage: named table or custom SQL, plus the incremental
    predicate (a Column expression, so it pushes into the scan)."""
    if job.source_sql is not None:
        t = load_tables(spark, sf_dir)
        t.register_views()
        df = spark.sql(job.source_sql)
    elif job.catalog_table is not None:
        # Production source path: a metastore table (partition pruning
        # comes from the catalog's partition spec + the filter below).
        df = spark.table(job.catalog_table)
    elif job.source_table is not None:
        df = getattr(load_tables(spark, sf_dir), job.source_table)
    else:
        raise ValueError(f"job {job.name!r}: needs source_table/source_sql/catalog_table")
    if job.incremental_filter:
        df = df.filter(F.expr(job.incremental_filter))
    return df


def apply_transforms(df: DataFrame, job: Job) -> DataFrame:
    """Transform stage: projection/rename, then document-id assignment.

    The _id column is the designated unique key cast to string (the
    ES `_id` contract); keyless sources fall back to
    monotonically_increasing_id (unique per run, not stable across
    runs — exactly the reference's auto-id behavior).
    """
    if job.columns:
        df = df.select(*(F.expr(expr).alias(name) for name, expr in job.columns.items()))
    if job.id_column:
        df = df.withColumn("_id", F.col(job.id_column).cast("string"))
    elif job.sink_format in ("es", "es_http"):
        df = df.withColumn("_id", F.monotonically_increasing_id().cast("string"))
    return df


def write_sink(df: DataFrame, job: Job) -> int:
    """Sink stage; returns the number of rows written, counted by the
    write itself on parquet and es_http. Parquet in the test env; the
    ES branch builds the production writer (connector options only —
    no ES to hit here) and still counts with a second pass."""
    if job.sink_format == "parquet":
        written = Observation()
        df = df.observe(written, F.count(F.lit(1)).alias("rows"))
        path = job.sink_path or os.path.join(TMP_ROOT, job.name)
        writer = df.write.mode(job.mode)
        if job.partition_by:
            # Hive-style layout: one directory per partition value —
            # downstream incremental reads prune on these columns.
            writer = writer.partitionBy(*job.partition_by)
        writer.parquet(path)
        return written.get["rows"]
    if job.sink_format == "es":
        opts = es_writer_options(
            job.es_index or job.name,
            id_column="_id" if "_id" in df.columns else None,
            batch_entries=job.batch_entries,
        )
        opts.update(job.options)
        (
            df.write.format("org.elasticsearch.spark.sql")
            .options(**opts)
            .mode(job.mode)
            .save()
        )
        # A second pass. The connector is a V1 relation provider: save()
        # hands it a fresh Dataset of the plan, which it runs through
        # its RDD, so an Observation on `df` would never be filled (and
        # its get would block). An observed count needs checking against
        # a real connector save first, which needs the es-hadoop jar.
        return df.count()
    if job.sink_format == "es_http":
        # Connector-free REST bulk path (es_http.bulk_index): same
        # identity/mode semantics as the connector branch, executable
        # against any HTTP endpoint — this is the branch that runs the
        # bulk protocol for real in tests (mock ES server). It counts
        # with an accumulator: an Observation never delivers on its
        # foreachPartition action.
        from hive_to_es_spark.es_http import bulk_index

        return bulk_index(
            df,
            job.options.get("es.nodes", "http://localhost:9200"),
            job.es_index or job.name,
            id_column="_id" if "_id" in df.columns else None,
            batch_entries=job.batch_entries,
            mode=job.mode,
        )
    raise ValueError(f"job {job.name!r}: unknown sink_format {job.sink_format!r}")


def run_job(spark: SparkSession, sf_dir: str, job: Job) -> int:
    """Execute one job end to end in a single Spark pass (two on the
    `es` connector branch, see write_sink); returns the number of rows
    the sink wrote. Its Spark jobs carry the
    description ``sync:<job name>``, so stages map back to the sync
    job (the caller's job group is left alone)."""
    sc = spark.sparkContext
    previous = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"sync:{job.name}")
    try:
        return write_sink(apply_transforms(build_source(spark, sf_dir, job), job), job)
    finally:
        sc.setJobDescription(previous)


def run_jobs(spark: SparkSession, sf_dir: str, jobs: list[Job]) -> DataFrame:
    """The multi-job runner (reference entry point): run every job in
    the config, return a (job_name, n_rows) summary DataFrame of the
    rows each job wrote."""
    rows = [(job.name, run_job(spark, sf_dir, job)) for job in jobs]
    return spark.createDataFrame(rows, "job_name string, n_rows long")


def jobs_from_config(config: dict) -> list[Job]:
    """Parse the reference-style config dict ({"jobs": [{...}, ...]})
    into Job specs. JSON-friendly types only; unknown keys are
    rejected loudly (a typo'd config field silently ignored is how
    sync jobs ship wrong data)."""
    valid = set(Job.__dataclass_fields__)
    jobs = []
    for j in config.get("jobs", []):
        unknown = set(j) - valid
        if unknown:
            raise ValueError(f"job {j.get('name', '?')!r}: unknown config keys {sorted(unknown)}")
        if "partition_by" in j:
            j = {**j, "partition_by": tuple(j["partition_by"])}
        jobs.append(Job(**j))
    if not jobs:
        raise ValueError("config has no jobs")
    return jobs
