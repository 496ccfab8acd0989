"""Sources & sinks.

Source model mirrors the reference tool class (SURVEY.md §1.1): named
tables as sources, document sinks. Sources are parquet directories OR
catalog tables — a "catalog:<db>" location routes every read through
``spark.table`` (populate_catalog registers the fixtures as managed
tables; analyze_catalog feeds the CBO) — and the Elasticsearch sink is
represented by its connector options (no ES in the test env — verified
as a parquet roundtrip, SURVEY.md §2.A p7).

Scale posture: readers keep filters/projections as Column expressions
so Catalyst pushes them into the parquet scan (PushedFilters /
ReadSchema); the events ns-fix is a cheap projection, not a UDF.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_to_es_spark.session import apply_runtime_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Catalog routing: a source location of the form "catalog:<database>"
# makes every read resolve through the session catalog
# (``spark.table``) instead of parquet paths — the production source
# model of the reference tool class (Hive tables in, documents out).
# Works with any metastore implementation the session was built with
# (in-memory catalog locally, Hive metastore on a cluster); tables are
# registered once with populate_catalog and from then on carry catalog
# stats (ANALYZE TABLE) that feed Spark's cost-based optimizer.
CATALOG_PREFIX = "catalog:"


def populate_catalog(
    spark: SparkSession, sf_dir: str, database: str, mode: str = "overwrite"
) -> str:
    """Register the fixture tables as managed catalog tables.

    Writes go through read_table, so physical-form fix-ups (the
    events.ts nanos/NTZ normalization) happen ONCE at registration and
    catalog readers get the normalized schema — exactly the posture of
    a curated Hive warehouse, where the ingest job owns type hygiene.
    Returns the "catalog:<database>" source string for load_tables.
    """
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    for name in TABLES:
        (read_table(spark, sf_dir, name)
         .write.mode(mode).saveAsTable(f"{database}.{name}"))
    return f"{CATALOG_PREFIX}{database}"


def analyze_catalog(spark: SparkSession, database: str) -> None:
    """ANALYZE every registered table (table-level + all-column stats)
    so the CBO (spark.sql.cbo.enabled) has row counts, sizes and NDVs
    to cost join orders with — at 100 TB, stats-driven build-side and
    join-order choices are the difference between a broadcast and a
    full shuffle."""
    for name in TABLES:
        spark.sql(f"ANALYZE TABLE {database}.{name} COMPUTE STATISTICS")
        # Column stats (NDV, min/max, null counts) only exist for
        # atomic types — ANALYZE rejects array/map/struct/binary
        # (embeddings.embedding, documents/events payloads), so pick
        # the supported columns explicitly instead of FOR ALL COLUMNS.
        atomic = [
            f"`{c}`" for c, t in spark.table(f"{database}.{name}").dtypes
            if not (t.startswith(("array", "map", "struct")) or t == "binary")
        ]
        if atomic:
            spark.sql(
                f"ANALYZE TABLE {database}.{name} COMPUTE STATISTICS "
                f"FOR COLUMNS {', '.join(atomic)}"
            )


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table with schema fix-ups.

    events.ts has shipped in two physical forms across fixture
    generations, both normalized here to a session-UTC TIMESTAMP
    (TIMESTAMP_LTZ) so downstream code — in particular streaming
    watermarks, which reject TIMESTAMP_NTZ — sees one stable type:

    - TIMESTAMP(NANOS): Spark 4.x cannot read it natively; with
      spark.sql.legacy.parquet.nanosAsLong=true it arrives as bigint
      nanos and is rebuilt to a microsecond timestamp.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): read natively as
      TIMESTAMP_NTZ; cast to TIMESTAMP. The session time zone is
      pinned to UTC (session.REQUIRED_RUNTIME_CONFS) so the cast is a
      deterministic relabel — wall-clock values are unchanged and
      still match DuckDB's naive timestamps exactly.

    All other tables load as-is. A "catalog:<db>" location resolves
    through ``spark.table`` instead (see CATALOG_PREFIX); the ts
    normalization below is then a no-op because populate_catalog
    already stored the normalized type.
    """
    apply_runtime_confs(spark)
    if sf_dir.startswith(CATALOG_PREFIX):
        df = spark.table(f"{sf_dir[len(CATALOG_PREFIX):]}.{name}")
    else:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type in ("bigint", "timestamp_ntz"):
            # Both rebuilds produce TIMESTAMP_LTZ whose wall-clock
            # values equal the stored naive instants ONLY under a UTC
            # session — and apply_runtime_confs is best-effort (an
            # externally built session may refuse the conf.set), so
            # fail loudly rather than silently shift every event
            # (ADVICE r4).
            tz = spark.conf.get("spark.sql.session.timeZone")
            if tz != "UTC":
                raise RuntimeError(
                    f"events.ts normalization requires a UTC session time "
                    f"zone, got {tz!r}: set spark.sql.session.timeZone=UTC "
                    f"(session.REQUIRED_RUNTIME_CONFS) before reading events"
                )
        if ts_type == "bigint":
            # integer `div`, NOT `/1000` — double division rounds half the
            # microseconds up while DuckDB (the oracle) truncates ns -> us
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            # NTZ detection depends on spark.sql.parquet.inferTimestampNTZ
            # .enabled (pinned in REQUIRED_RUNTIME_CONFS): with it off the
            # µs-NTZ column would arrive as plain 'timestamp' and skip this
            # branch — benign under UTC, but pinned for determinism.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def table_row_count(spark: SparkSession, sf_dir: str, name: str) -> int | None:
    """Best-effort row count WITHOUT a Spark job, for plan-gate
    decisions (ngram_jaccard_pairs' auto gate, ADVICE r8: the gate ran
    a full count() action per call even at fixture scale where the
    outcome is always 'blocked').

    - Parquet-path sources: sum of footer row counts via pyarrow —
      metadata-only, milliseconds, no executor involvement. This is
      exactly what a cluster's file-listing phase already knows.
    - Catalog sources: the CBO row-count statistic if ANALYZE ran.
    - Anything else (or any failure): None — callers fall back to a
      count() job, which stays correct, just costs one action.

    A gate only needs order-of-magnitude accuracy, so a slightly stale
    footer/stat count is fine; correctness never depends on it.
    """
    try:
        if sf_dir.startswith(CATALOG_PREFIX):
            db = sf_dir[len(CATALOG_PREFIX):]
            row = spark.sql(f"DESCRIBE TABLE EXTENDED {db}.{name}").where(
                F.col("col_name") == "Statistics"
            ).collect()
            for r in row:
                # "X bytes, N rows" only present after ANALYZE
                parts = (r.data_type or "").split(",")
                for p in parts:
                    p = p.strip()
                    if p.endswith("rows"):
                        return int(p.split()[0])
            return None
        import pyarrow.dataset as ds

        return ds.dataset(
            os.path.join(sf_dir, f"{name}.parquet"), format="parquet"
        ).count_rows()
    except Exception:
        return None


class Tables:
    """Lazy table accessor: ``t.lineitem`` reads on first touch.

    Keeps per-query IO down to the tables the plan actually needs —
    at 100 TB each read is a real scan, so nothing is loaded eagerly.
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        if name not in TABLES:
            raise AttributeError(f"unknown table {name!r}")
        if name not in self._cache:
            self._cache[name] = read_table(self._spark, self._sf_dir, name)
        return self._cache[name]

    def register_views(self) -> None:
        """Register all tables as temp views for spark.sql entry points."""
        for name in TABLES:
            getattr(self, name).createOrReplaceTempView(name)


# Module-level cache: repeated query invocations (bench loops, the
# driver's per-query harness) reuse resolved relations instead of
# re-reading parquet footers per call — measured 17x overhead otherwise
# on sub-second queries. Keyed by (id(session), sf_dir); the stored
# session is identity-checked to guard against id() reuse after GC,
# and entries bound to STOPPED sessions are pruned on every lookup so
# dead sessions' DataFrames don't stay pinned for the process lifetime.
_TABLES_CACHE: dict[tuple[int, str], Tables] = {}


def _session_stopped(session: SparkSession) -> bool:
    try:
        return session.sparkContext._jsc.sc().isStopped()
    except Exception:
        return True  # context gone entirely


def load_tables(spark: SparkSession, sf_dir: str) -> Tables:
    for k in [k for k, t in _TABLES_CACHE.items() if _session_stopped(t._spark)]:
        del _TABLES_CACHE[k]
    key = (id(spark), sf_dir)
    cached = _TABLES_CACHE.get(key)
    if cached is None or cached._spark is not spark:
        cached = Tables(spark, sf_dir)
        _TABLES_CACHE[key] = cached
    return cached


# ---------------------------------------------------------------------------
# Sinks (reference pipeline stage p7, SURVEY.md §2.A)
# ---------------------------------------------------------------------------

def es_writer_options(
    index: str,
    *,
    id_column: str | None = None,
    nodes: str = "localhost:9200",
    batch_entries: int = 1000,
    batch_bytes: str = "1mb",
) -> dict[str, str]:
    """Options for the public elasticsearch-hadoop Spark connector.

    The reference's full/incremental modes map to writer mode
    overwrite/append plus ``es.mapping.id`` for idempotent upserts
    (SURVEY.md §2.A p4/p7). Not executable in this env (no ES): the
    job runner swaps in the parquet sink when format == "parquet".
    """
    opts = {
        "es.nodes": nodes,
        "es.resource": index,
        "es.batch.size.entries": str(batch_entries),
        "es.batch.size.bytes": str(batch_bytes),
    }
    if id_column:
        opts["es.mapping.id"] = id_column
        opts["es.write.operation"] = "upsert"
    return opts
