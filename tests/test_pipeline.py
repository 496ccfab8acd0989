"""End-to-end pipeline-layer tests: job spec -> source -> transform ->
sink -> read-back verification (SURVEY.md §2.A)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hive_to_es_spark.io import es_writer_options
from hive_to_es_spark.pipeline import Job, apply_transforms, build_source, run_job, run_jobs


def test_run_job_end_to_end(spark, sf_dir, tmp_path):
    job = Job(
        name="orders_sync",
        source_table="orders",
        incremental_filter="o_totalprice > 400000",
        columns={"order_id": "o_orderkey", "amount": "o_totalprice"},
        id_column="order_id",
        sink_path=str(tmp_path / "orders_sync"),
    )
    written = run_job(spark, sf_dir, job)
    back = spark.read.parquet(job.sink_path)
    assert set(back.columns) == {"order_id", "amount", "_id"}
    assert back.count() == written > 0
    # _id is the string form of the key column (idempotent upsert contract)
    bad = back.filter(F.col("_id") != F.col("order_id").cast("string")).count()
    assert bad == 0
    # incremental predicate applied
    assert back.filter(F.col("amount") <= 400000).count() == 0


def test_custom_sql_source(spark, sf_dir):
    job = Job(
        name="custom",
        source_sql="SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'",
    )
    df = build_source(spark, sf_dir, job)
    assert df.columns == ["o_orderkey", "o_totalprice"]
    assert df.count() > 0


def test_overwrite_vs_append_modes(spark, sf_dir, tmp_path):
    base = Job(
        name="m",
        source_table="region",
        sink_path=str(tmp_path / "m"),
    )
    run_job(spark, sf_dir, base)
    n1 = spark.read.parquet(base.sink_path).count()
    run_job(spark, sf_dir, Job(**{**base.__dict__, "mode": "append"}))
    assert spark.read.parquet(base.sink_path).count() == 2 * n1
    run_job(spark, sf_dir, base)  # overwrite resets
    assert spark.read.parquet(base.sink_path).count() == n1


def test_run_jobs_summary(spark, sf_dir, tmp_path):
    jobs = [
        Job(name="a", source_table="region", sink_path=str(tmp_path / "a")),
        Job(name="b", source_table="nation", sink_path=str(tmp_path / "b")),
    ]
    sc = spark.sparkContext
    sc.setJobDescription("caller")  # run_job labels its jobs sync:<name>, then restores this
    try:
        summary = {r.job_name: r.n_rows for r in run_jobs(spark, sf_dir, jobs).collect()}
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setJobDescription(None)
    assert summary == {"a": 5, "b": 25}


def test_es_writer_options_mapping():
    opts = es_writer_options("idx", id_column="order_id", batch_entries=500)
    assert opts["es.resource"] == "idx"
    assert opts["es.mapping.id"] == "order_id"
    assert opts["es.write.operation"] == "upsert"
    assert opts["es.batch.size.entries"] == "500"
    # keyless: no upsert settings
    assert "es.mapping.id" not in es_writer_options("idx")


def test_keyless_es_job_gets_auto_id(spark, sf_dir):
    job = Job(name="auto", source_table="region", sink_format="es")
    df = apply_transforms(build_source(spark, sf_dir, job), job)
    assert "_id" in df.columns


def test_catalog_table_source(spark, sf_dir, tmp_path):
    """Production source path: a saved catalog table read via
    spark.table (the Hive-metastore heir)."""
    from hive_to_es_spark.io import load_tables

    load_tables(spark, sf_dir).nation.write.mode("overwrite").saveAsTable("t_nation_cat")
    try:
        job = Job(
            name="cat",
            catalog_table="t_nation_cat",
            incremental_filter="n_regionkey = 0",
            sink_path=str(tmp_path / "cat"),
        )
        written = run_job(spark, sf_dir, job)
        assert written == spark.read.parquet(job.sink_path).count() == 5
    finally:
        spark.sql("DROP TABLE IF EXISTS t_nation_cat")


def test_partitioned_sink_layout(spark, sf_dir, tmp_path):
    """Date-partitioned sink: Hive-style year=YYYY directories, and
    the partition column prunes on read-back."""
    import os

    job = Job(
        name="part",
        source_table="orders",
        columns={
            "order_id": "o_orderkey",
            "amount": "o_totalprice",
            "year": "year(o_orderdate)",
        },
        partition_by=("year",),
        sink_path=str(tmp_path / "part"),
    )
    run_job(spark, sf_dir, job)
    subdirs = {d for d in os.listdir(job.sink_path) if d.startswith("year=")}
    assert len(subdirs) >= 2  # orders span multiple years
    back = spark.read.parquet(job.sink_path).filter(F.col("year") == 2000)
    assert back.count() > 0


def test_p10_dedup_keeps_min_doc_id(spark, tmp_path):
    """p10's dedup stage must keep the MIN doc_id per duplicated text
    (the fixture has no exact dups, so this injects them — e5's
    pattern). doc_id 9 hash-buckets to 'test' (95) and doc_id 10 to
    'train' (57); both carry the same text, so if min-id survives the
    doc lands in the test split, and a max-id (or nondeterministic)
    survivor would land in train instead."""
    from hive_to_es_spark.registry import queries

    text = "the quick brown fox jumps over the lazy dog and runs on to the hill " * 4
    text = text.strip()
    docs = spark.createDataFrame(
        [(9, text, "en", "web", len(text)), (10, text, "en", "web", len(text))],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    sf_dir = str(tmp_path / "mini_sf")
    docs.coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    rows = queries()["p10_corpus_pipeline"](spark, sf_dir).collect()
    by_split = {r.split: r.n_docs for r in rows}
    assert by_split == {"test": 1}  # dedup happened AND min doc_id (9) survived


def test_jobs_from_config_and_cli_roundtrip(spark, sf_dir, tmp_path):
    """The reference invocation shape: a JSON config file -> jobs ->
    sinks. Unknown config keys must fail loudly, and the parsed jobs
    must run end to end with the declared projection."""
    import json

    from hive_to_es_spark.pipeline import jobs_from_config, run_jobs

    cfg = {
        "jobs": [
            {
                "name": "orders_full",
                "source_table": "orders",
                "columns": {"order_id": "o_orderkey", "amount": "o_totalprice"},
                "id_column": "order_id",
                "sink_path": str(tmp_path / "orders_full"),
            },
            {
                "name": "orders_incr",
                "source_table": "orders",
                "incremental_filter": "o_totalprice > 400000",
                "columns": {"order_id": "o_orderkey"},
                "sink_path": str(tmp_path / "orders_incr"),
            },
        ]
    }
    jobs = jobs_from_config(cfg)
    summary = {r.job_name: r.n_rows for r in run_jobs(spark, sf_dir, jobs).collect()}
    n_orders = spark.read.parquet(str(tmp_path / "orders_full")).count()
    assert summary["orders_full"] == n_orders > 0
    assert 0 < summary["orders_incr"] < n_orders
    back = spark.read.parquet(str(tmp_path / "orders_full"))
    assert set(back.columns) == {"order_id", "amount", "_id"}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown config keys"):
        jobs_from_config({"jobs": [{"name": "x", "source_tble": "orders"}]})
    with _pytest.raises(ValueError, match="no jobs"):
        jobs_from_config({})


def test_cli_main_prints_written_counts(spark, sf_dir, tmp_path, capsys):
    """`python -m hive_to_es_spark --config` end to end: the one JSON
    line it prints carries, per job, the rows its sink wrote — a full
    job and an incremental job whose predicate selects nothing (an
    empty append may leave no data file, so its read-back passes the
    schema)."""
    import json

    from hive_to_es_spark.__main__ import main
    from hive_to_es_spark.io import load_tables

    full, incr = str(tmp_path / "nation_full"), str(tmp_path / "orders_none")
    cfg = tmp_path / "jobs.json"
    cfg.write_text(
        json.dumps(
            {
                "jobs": [
                    {"name": "nation_full", "source_table": "nation", "sink_path": full},
                    {
                        "name": "orders_none",
                        "source_table": "orders",
                        "incremental_filter": "o_orderkey < 0",
                        "mode": "append",
                        "sink_path": incr,
                    },
                ]
            }
        )
    )
    cpus = str(spark.sparkContext.defaultParallelism)  # reuse the session as built
    assert main(["--config", str(cfg), "--sf-dir", sf_dir, "--cpus", cpus]) == 0
    printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    orders_schema = load_tables(spark, sf_dir).orders.schema
    assert printed == {
        "jobs": {
            "nation_full": spark.read.parquet(full).count(),
            "orders_none": spark.read.schema(orders_schema).parquet(incr).count(),
        }
    }
    assert printed["jobs"]["nation_full"] == 25 and printed["jobs"]["orders_none"] == 0


def test_incremental_sink_schema_evolution(spark, sf_dir, tmp_path):
    """The incremental-sync schema-drift story: a later job version
    adds a projected column. Appended files carry the wider schema;
    mergeSchema reads reconcile both generations (old rows NULL for
    the new column) — the parquet twin of ES dynamic mapping, and the
    behavior an operator of the reference tool class relies on when a
    source table grows a column mid-history."""
    from hive_to_es_spark.pipeline import Job, run_job

    sink = str(tmp_path / "evolving")
    v1 = Job(
        name="sync_v1",
        source_table="orders",
        incremental_filter="o_orderkey <= 1000",
        columns={"order_id": "o_orderkey"},
        sink_path=sink,
    )
    v2 = Job(
        name="sync_v2",
        source_table="orders",
        incremental_filter="o_orderkey > 1000 AND o_orderkey <= 2000",
        columns={"order_id": "o_orderkey", "amount": "o_totalprice"},
        mode="append",
        sink_path=sink,
    )
    n1 = run_job(spark, sf_dir, v1)
    n2 = run_job(spark, sf_dir, v2)
    assert n1 > 0 and n2 > 0

    merged = spark.read.option("mergeSchema", "true").parquet(sink)
    assert set(merged.columns) == {"order_id", "amount"}
    assert merged.count() == n1 + n2
    # generation 1 rows surface with NULL for the later column;
    # generation 2 rows carry real values
    assert merged.filter(F.col("amount").isNull()).count() == n1
    assert merged.filter(F.col("amount").isNotNull()).count() == n2
    # a plain (non-merge) read still works off the union footer —
    # whichever footer wins, the row COUNT is never wrong
    assert spark.read.parquet(sink).count() == n1 + n2


def test_python_datasource_plans_one_partition_per_row_group(spark, sf_dir, tmp_path):
    """b8's custom source must turn parquet ROW GROUPS into Spark
    input partitions (metadata-only planning). The fixtures are
    single-group files, so write a 4-group copy and prove: partition
    count == row-group count, and the content round-trips exactly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = pq.read_table(f"{sf_dir}/documents.parquet")
    multi = str(tmp_path / "docs_multi.parquet")
    pq.write_table(src, multi, row_group_size=max(1, src.num_rows // 4))
    n_groups = pq.ParquetFile(multi).metadata.num_row_groups
    assert n_groups >= 4

    from hive_to_es_spark.registry import queries

    # register the source by building the registered op once
    queries()["b8_python_datasource"](spark, sf_dir)
    df = (
        spark.read.format("pydocs")
        .option("path", multi)
        .load()
    )
    assert df.rdd.getNumPartitions() == n_groups
    got = sorted((r.doc_id, r.n_chars) for r in df.collect())
    want = sorted(
        zip(src.column("doc_id").to_pylist(), src.column("n_chars").to_pylist())
    )
    assert got == want
    # round 10: a Spark-WRITTEN table is a DIRECTORY of part files
    # (the scale ladder's shape) — the source must plan splits across
    # (file, row group) pairs, not assume one file
    multi_dir = str(tmp_path / "docs_dir.parquet")
    spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(3).write.parquet(
        multi_dir
    )
    df_dir = spark.read.format("pydocs").option("path", multi_dir).load()
    assert df_dir.rdd.getNumPartitions() >= 3
    assert sorted((r.doc_id, r.n_chars) for r in df_dir.collect()) == want
    # round 11 (advice): fail LOUDLY on the two layouts the flat
    # reader cannot honestly serve — an empty dir (was: silently
    # empty frame) and a partitionBy-written nested table (reading
    # its part files would DROP the partition column values)
    import os

    import pytest
    from pyspark.errors import PySparkException

    empty_dir = str(tmp_path / "empty.parquet")
    os.makedirs(empty_dir)
    with pytest.raises(PySparkException, match="no .parquet files"):
        spark.read.format("pydocs").option("path", empty_dir).load().collect()
    nested_dir = str(tmp_path / "nested.parquet")
    spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "bucket", F.col("doc_id") % 2
    ).write.partitionBy("bucket").parquet(nested_dir)
    with pytest.raises(PySparkException, match="partitioned"):
        spark.read.format("pydocs").option("path", nested_dir).load().collect()


def test_p21_selective_delete_preserves_untouched_partition_files(spark, sf_dir, tmp_path):
    """The point of p21's dynamic-partition-overwrite delete: month
    directories with no forget-listed rows keep their ORIGINAL files
    (same names, sizes, mtimes); affected months are rewritten and
    contain no forget-listed keys afterwards; nothing else is lost."""
    import os

    from pyspark.sql import functions as F

    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.operators.pipeline_ops import selective_partition_delete

    path = str(tmp_path / "orders_by_month")
    o = load_tables(spark, sf_dir).orders.withColumn(
        "ym", F.date_format("o_orderdate", "yyyy-MM")
    )
    o.repartition(F.col("ym")).write.partitionBy("ym").parquet(path)

    def listing():
        out = {}
        for dirpath, _, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    st = os.stat(p)
                    out[p] = (st.st_size, st.st_mtime_ns)
        return out

    before = listing()
    # forget two specific customers only -> few affected months
    targets = [r.o_custkey for r in o.select("o_custkey").distinct().limit(2).collect()]
    pred = F.col("o_custkey").isin(targets)
    expected_affected = {
        r.ym for r in o.filter(pred).select("ym").distinct().collect()
    }
    all_months = {r.ym for r in o.select("ym").distinct().collect()}
    assert expected_affected and expected_affected != all_months, "delete set touches every partition - pruning untestable"

    affected = set(selective_partition_delete(spark, path, "ym", pred))
    assert affected == expected_affected

    after = listing()
    for p, sig in before.items():
        ym = next(s for s in p.split(os.sep) if s.startswith("ym="))[3:]
        if ym not in affected:
            assert after.get(p) == sig, f"untouched partition rewritten: {p}"
        else:
            assert after.get(p) != sig, f"affected partition not rewritten: {p}"
    final = spark.read.parquet(path)
    assert final.filter(pred).count() == 0
    assert final.count() == o.count() - o.filter(pred).count()


def test_selective_delete_emptied_partition_and_null_pred(spark, tmp_path):
    """The two delete-helper traps (round-7 review), exercised on a
    synthetic table: (a) a partition whose rows ALL match the
    predicate must be fully removed — dynamic overwrite alone writes
    zero rows for it and would leave its old files readable; (b) a
    NULL predicate row is NOT a target and must survive the rewrite."""
    import os

    from pyspark.sql import functions as F

    from hive_to_es_spark.operators.pipeline_ops import selective_partition_delete

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [
            ("p1", 1),      # target (all of p1 matches -> p1 fully emptied)
            ("p1", 1),
            ("p2", 1),      # target within mixed partition
            ("p2", 2),      # survivor
            ("p2", None),   # NULL pred -> must survive
            ("p3", 2),      # untouched partition
        ],
        "part STRING, k INT",
    )
    df.repartition(F.col("part")).write.partitionBy("part").parquet(path)
    affected = selective_partition_delete(
        spark, path, "part", F.col("k") == 1
    )
    assert sorted(affected) == ["p1", "p2"]
    assert not os.path.exists(os.path.join(path, "part=p1")), (
        "fully-emptied partition directory must be deleted"
    )
    rows = {(r.part, r.k) for r in spark.read.parquet(path).collect()}
    assert rows == {("p2", 2), ("p2", None), ("p3", 2)}


def test_p22_compaction_reduces_fragmented_layout(spark, sf_dir):
    """p22's oracle proves the AFTER layout (ceil(rows/R) files per
    lang dir) and data preservation; this test proves the BEFORE
    layout was genuinely fragmented — more files per dir than after,
    with at least one lang dir at the full 16-writer fan-out — so the
    compaction is measured against real fragmentation, not a no-op."""
    import os
    from collections import Counter

    from hive_to_es_spark.operators.pipeline_ops import _P22_R
    from hive_to_es_spark.pipeline import dataset_tmp_path
    from hive_to_es_spark.registry import queries

    report = {
        r.lang: (r.n_docs, r.n_files)
        for r in queries()["p22_compact_small_files"](spark, sf_dir).collect()
    }

    def files_per_dir(path):
        out = Counter()
        for dirpath, _, files in os.walk(path):
            n = sum(f.endswith(".parquet") for f in files)
            if n:
                out[os.path.basename(dirpath)] += n
        return out

    frag = files_per_dir(dataset_tmp_path("p22_frag_docs", sf_dir))
    comp = files_per_dir(dataset_tmp_path("p22_compact_docs", sf_dir))
    assert set(frag) == set(comp) == {f"lang={l}" for l in report}
    assert max(frag.values()) == 16, "baseline not at full writer fan-out"
    for lang, (n_docs, n_files) in report.items():
        d = f"lang={lang}"
        assert comp[d] == n_files == -(-n_docs // _P22_R)
        assert comp[d] < frag[d], f"{d}: compaction did not reduce files"


def test_d16_redelivery_and_index_delta(spark, sf_dir):
    """d16's two side contracts the oracle can't see: (1) at-least-once
    re-delivery — every incoming doc whose id is already in the index
    (the 200-249 overlap) is REJECTED, deterministically, because its
    identical signature collides with its own index entry on all 16
    bands; (2) the index delta — after the run the persisted index
    holds exactly base + accepted band rows, so a replayed batch
    converges instead of duplicating."""
    from pyspark.sql import functions as F

    from hive_to_es_spark.pipeline import dataset_tmp_path
    from hive_to_es_spark.registry import queries

    out = queries()["d16_incremental_neardup"](spark, sf_dir).collect()
    by_id = {r.doc_id: r for r in out}
    overlap = [r for did, r in by_id.items() if 200 <= did < 250]
    assert len(overlap) == 50
    for r in overlap:
        assert r.accepted == 0, r
        assert r.dup_of is not None and r.dup_of <= r.doc_id, r
    accepted_ids = {r.doc_id for r in out if r.accepted == 1}
    assert accepted_ids, "fixture batch must accept some new docs"
    # index delta: base docs (0..249) + exactly the accepted ids
    idx_ids = {
        r.doc_id
        for r in spark.read.parquet(dataset_tmp_path("d16_minhash_index", sf_dir))
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert idx_ids == set(range(250)) | accepted_ids
    # replay convergence: a second run re-rejects everything it can see
    # in the grown index — the previously accepted docs now collide with
    # their own entries, so nothing is accepted twice
    out2 = queries()["d16_incremental_neardup"](spark, sf_dir).collect()
    again = {r.doc_id for r in out2 if r.accepted == 1}
    assert again == accepted_ids  # op rebuilds its base index: idempotent


def test_selective_delete_repairs_crashed_swap(spark, tmp_path):
    """Round-9 review + round-9 ADVICE: a run that crashed between the
    two swap renames leaves the partition only at the aside dir
    '_old.<part>=<v>'. The repair pre-pass must (a) RESTORE an aside
    whose partition dir is missing before anything reads the table,
    (b) DROP an aside whose swap had already completed (both dirs
    present), keeping exactly one copy either way, (c) NEVER touch a
    legitimate partition whose string value merely ends in ".old"
    (the round-9 aside scheme '<part>=<v>.old' deleted it as a stale
    copy — permanent data loss), and (d) GC orphaned sibling
    '_delete_staging_*' dirs from crashed runs."""
    import os
    import shutil as sh

    from pyspark.sql import functions as F

    from hive_to_es_spark.operators.pipeline_ops import selective_partition_delete

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [("p1", 1), ("p1", 2), ("p2", 2), ("p3", 1), ("p3", 2),
         ("v", 2), ("v.old", 2)],
        "part STRING, k INT",
    )
    df.repartition(F.col("part")).write.partitionBy("part").parquet(path)
    # simulate crash A: p1's swap died between rename-aside and
    # rename-in — only the aside copy exists
    os.rename(os.path.join(path, "part=p1"), os.path.join(path, "_old.part=p1"))
    # simulate crash B: p2's swap completed but died before dropping
    # the aside copy — both dirs exist (the aside is a stale duplicate)
    sh.copytree(os.path.join(path, "part=p2"), os.path.join(path, "_old.part=p2"))
    # simulate crash C: a prior run died after its staging write —
    # an orphaned sibling staging dir must be GC'd, not accumulated
    orphan = str(tmp_path / "t_delete_staging_deadbeef")
    sh.copytree(os.path.join(path, "part=p2"), os.path.join(orphan, "part=p2"))
    spark.catalog.refreshByPath(path)

    affected = selective_partition_delete(spark, path, "part", F.col("k") == 1)
    # p1 was restored BEFORE the survivor scan: its k=1 row was seen,
    # deleted, and its k=2 row survives; p2's stale aside never
    # double-counted; the real "v.old" partition untouched; no aside
    # or orphaned staging dir remains anywhere
    assert sorted(affected) == ["p1", "p3"]
    assert not any(n.startswith("_old.") for n in os.listdir(path)), os.listdir(path)
    assert "part=v.old" in os.listdir(path)
    assert not os.path.exists(orphan)
    rows = {(r.part, r.k) for r in spark.read.parquet(path).collect()}
    assert rows == {("p1", 2), ("p2", 2), ("p3", 2), ("v", 2), ("v.old", 2)}


def test_b11_sink_abort_commits_nothing(spark, tmp_path):
    """b11's two-phase commit, failure half: a write job killed
    mid-flight (a poison row makes one task's write() raise) must
    leave ZERO committed output — no part files, no _SUCCESS
    manifest, no staging leftovers — because tasks only ever stage
    and the driver's abort() tears the staging dir down. Then a
    clean retry into the SAME target must commit exactly once."""
    import os

    import pytest

    from hive_to_es_spark.operators.pipeline_ops import _b11_register_sink

    _b11_register_sink(spark)
    out = str(tmp_path / "sink")
    os.makedirs(out, exist_ok=True)
    df = spark.range(0, 1000, 1, 4).selectExpr("id", "id * 2 AS v")
    with pytest.raises(Exception):
        (
            df.write.format("pyatomic")
            .option("path", out)
            .option("poison", "500")  # lives in one of the 4 partitions
            .mode("append")
            .save()
        )
    # ZERO committed output. (A still-cancelling task may legally
    # re-stage a file after abort()'s teardown — staging contents are
    # uncommitted by definition, so only the COMMITTED surface is
    # asserted; the next commit's teardown collects any orphan.)
    leftovers = os.listdir(out)
    assert not any(
        n.endswith(".parquet") or n == "_SUCCESS" for n in leftovers
    ), leftovers
    # clean retry commits exactly the input (and only it — orphaned
    # staged files from the aborted job must not be committed)
    df.write.format("pyatomic").option("path", out).mode("append").save()
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    back = spark.read.parquet(out)
    assert back.count() == 1000
    assert back.agg({"v": "sum"}).collect()[0][0] == 999 * 1000
    assert open(os.path.join(out, "_SUCCESS")).read() == "1000"
    # second append into the same target must ADD, not overwrite
    # (round-10 review: message-index final names collided across
    # jobs and silently destroyed the first job's files)
    df.write.format("pyatomic").option("path", out).mode("append").save()
    assert spark.read.parquet(out).count() == 2000
    # the committed count accumulates across append jobs via per-job
    # _SUCCESS.<job> manifests (round-10 advice: a second append used
    # to clobber the first job's count); b11_committed_rows is the
    # authoritative read-time reader (round-11 review: the bare
    # _SUCCESS total is advisory — concurrent committers can race it
    # stale). Sequential appends keep the advisory file exact too.
    # The aborted job's staging subdir may legally survive (a
    # still-cancelling task can re-stage after abort's teardown) —
    # underscore dirs are invisible to readers, so only the committed
    # surface matters.
    from hive_to_es_spark.operators.pipeline_ops import b11_committed_rows

    assert b11_committed_rows(out) == 2000
    assert open(os.path.join(out, "_SUCCESS")).read() == "2000"


def test_p27_export_abort_then_retry(spark, sf_dir, tmp_path):
    """p27's abort path (b11's poison hook routed through the shard
    exporter): a poisoned export must leave ZERO committed output —
    no part files, no _SUCCESS — and a clean retry into the same
    target must commit the full corpus exactly once, with the
    manifest aggregate matching the source."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from hive_to_es_spark.io import load_tables
    from hive_to_es_spark.operators.pipeline_ops import export_shards

    d = load_tables(spark, sf_dir).documents.select(
        "doc_id", "n_chars", "text"
    )
    out = str(tmp_path / "shards")
    with pytest.raises(Exception):
        export_shards(spark, d, out, poison=250)
    leftovers = os.listdir(out)
    assert not any(
        n.endswith(".parquet") or n == "_SUCCESS" for n in leftovers
    ), leftovers
    export_shards(spark, d, out)
    back = spark.read.parquet(out)
    assert back.count() == d.count()
    assert (
        back.agg(F.sum("n_chars")).first()[0]
        == d.agg(F.sum("n_chars")).first()[0]
    )
    # shard contract: no shard exceeds budget by more than one doc
    over = (
        back.groupBy("shard_id")
        .agg(F.sum("n_chars").alias("w"), F.max("n_chars").alias("mx"))
        .filter(F.col("w") - F.col("mx") >= 50_000)
        .count()
    )
    assert over == 0
