"""One workload in one fresh process: set up, run passes, record.

Started by run.py, never imported by it. The process imports the
package, builds the session with ``session.get_spark`` (that is the
measured set-up), runs a cold pass and then warm passes until the time
budget is spent, and writes what it observed to a JSON file. run.py
turns the observations into metrics and checks the outputs against
expected.json, outside this process, so the benchmark's own checking
adds nothing to the measured process tree.

Usage (run.py builds the command line):
    worker.py <config.json> <result.json>
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

import workloads
from proctree import cpu_s
from tracing import Tracer, count_pass_s, eventlog_by_group, tracker_counts


def _import_package() -> None:
    import hive_to_es_spark.es_http  # noqa: F401
    import hive_to_es_spark.functions.lifecycle  # noqa: F401
    import hive_to_es_spark.io  # noqa: F401
    import hive_to_es_spark.pipeline  # noqa: F401
    import hive_to_es_spark.registry  # noqa: F401
    import hive_to_es_spark.session  # noqa: F401


def _job_name(args) -> str:
    # Every pipeline stage takes the Job as its last positional argument.
    return args[-1].name


def _traced_targets() -> dict[str, tuple]:
    from hive_to_es_spark import es_http, io, pipeline
    from hive_to_es_spark.functions import lifecycle

    return {
        "io.load_tables": (io.load_tables, None),
        "io.read_table": (io.read_table, None),
        "pipeline.build_source": (pipeline.build_source, _job_name),
        "pipeline.apply_transforms": (pipeline.apply_transforms, _job_name),
        "pipeline.write_sink": (pipeline.write_sink, _job_name),
        "pipeline.run_job": (pipeline.run_job, _job_name),
        "es_http.bulk_index": (es_http.bulk_index, None),
        "lifecycle.release_all_persistent": (lifecycle.release_all_persistent, None),
    }


def _es(url: str, path: str, method: str = "GET") -> dict:
    req = urllib.request.Request(f"{url}{path}", data=b"" if method == "POST" else None, method=method)
    with urllib.request.urlopen(req, timeout=60) as r:
        return json.loads(r.read())


def _sink_files(root: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class Runner:
    def __init__(self, cfg: dict, tracer: Tracer | None):
        from hive_to_es_spark import pipeline
        from hive_to_es_spark.functions import lifecycle
        from hive_to_es_spark.registry import queries

        self.cfg = cfg
        self.tracer = tracer
        self.pipeline = pipeline
        self.lifecycle = lifecycle
        self.queries = queries
        self.targets = _traced_targets() if tracer else {}
        self.cut = workloads.cutoffs(cfg["seed"])

    def run_pass(self, spark, label: str, traced: bool) -> dict:
        rec = {"label": label, "traced": traced}
        if traced:
            self.tracer.label = label
            self.tracer.install(self.targets)
        try:
            if self.cfg["workload"] == "corpus_ops":
                self._ops_pass(spark, label, traced, rec)
            else:
                self._sync_pass(spark, label, rec)
        finally:
            if traced:
                self.tracer.uninstall()
        if self.tracer is not None:
            groups = rec.get("groups", [label])
            rec["tracker"] = tracker_counts(spark.sparkContext, groups)
        return rec

    def _sync_pass(self, spark, label: str, rec: dict) -> None:
        cfg = self.cfg
        sink_root = os.path.join(cfg["sink_root"], label)
        jobs = workloads.sync_jobs(self.cut, sink_root, cfg["es_url"])
        rec["attempted"] = len(jobs)
        _es(cfg["es_url"], "/_bench/reset", "POST")
        spark.sparkContext.setJobGroup(label, label)
        c0 = cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            summary = self.pipeline.run_jobs(spark, cfg["data_dir"], jobs).collect()
        except Exception as e:  # the pass counts as failed; keep running
            rec["error"] = f"{type(e).__name__}: {e}"[:2000]
            rec["failed"] = len(jobs)
            return
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = cpu_s(os.getpid()) - c0
        rec["rows"] = {r.job_name: r.n_rows for r in summary}
        if self.tracer is not None:
            rec["count_pass_s"] = count_pass_s(rec["wall_s"], self.tracer.spans, label)
        rec["es"] = _es(cfg["es_url"], "/_bench/stats")
        rec["es_index"] = _es(cfg["es_url"], f"/_bench/digest/{workloads.ES_INDEX}")
        rec["parquet_files"], rec["parquet_bytes"] = _sink_files(sink_root)
        rec["sink_root"] = sink_root

    def _ops_pass(self, spark, label: str, traced: bool, rec: dict) -> None:
        from digests import rows_digest

        sc = spark.sparkContext
        qs = self.queries()
        rec["attempted"] = len(workloads.OPS)
        rec["failed"] = 0
        rec["ops"], rec["groups"] = {}, []
        rec["wall_s"] = rec["cpu_s"] = rec["release_s"] = 0.0
        rows_out = 0
        for key in workloads.OPS:
            fn = self.tracer.wrap(f"operators.{key}", qs[key]) if traced else qs[key]
            op = {}
            try:
                sc.setJobGroup(f"{label}/{key}/build", key)
                c0 = cpu_s(os.getpid())
                t0 = time.perf_counter()
                df = fn(spark, self.cfg["data_dir"])
                t1 = time.perf_counter()
                sc.setJobGroup(f"{label}/{key}/action", key)
                if traced:
                    with self.tracer.span(f"operators.{key}.collect"):
                        rows = df.collect()
                else:
                    rows = df.collect()
                t2 = time.perf_counter()
                c2 = cpu_s(os.getpid())
            except Exception as e:  # the op counts as failed; keep running
                op["error"] = f"{type(e).__name__}: {e}"[:2000]
                rec["failed"] += 1
            else:
                op.update(build_s=t1 - t0, action_s=t2 - t1)
                op.update(rows_digest(df.columns, rows))
                rec["wall_s"] += t2 - t0
                rec["cpu_s"] += c2 - c0
                rows_out += len(rows)
            rec["groups"] += [f"{label}/{key}/build", f"{label}/{key}/action"]
            if traced:
                op["tracker"] = tracker_counts(sc, rec["groups"][-2:])
            t3 = time.perf_counter()
            self.lifecycle.release_all_persistent(spark)
            rec["release_s"] += time.perf_counter() - t3
            rec["ops"][key] = op
        rec["rows"] = {"collected": rows_out}


def setup(tracer: Tracer | None):
    """Import the package and build the session; returns (spark, seconds).
    Timed from before the first package import."""
    t0 = time.perf_counter()
    _import_package()
    from hive_to_es_spark import session

    if tracer is not None:
        tracer.label = "setup"
        tracer.install({"session.get_spark": (session.get_spark, None)})
        spark = session.get_spark()
        tracer.uninstall()
    else:
        spark = session.get_spark()
    return spark, time.perf_counter() - t0


def main(argv: list[str]) -> int:
    cfg_path, out_path = argv
    with open(cfg_path) as f:
        cfg = json.load(f)
    tracer = Tracer() if cfg["trace"] else None
    spark, setup_s = setup(tracer)
    spark.sparkContext.setLogLevel("ERROR")
    runner = Runner(cfg, tracer)
    result = {"setup_s": setup_s, "passes": []}
    try:
        result["passes"].append(runner.run_pass(spark, "p0", bool(tracer)))
        deadline = time.perf_counter() + cfg["seconds"]
        min_passes = max(workloads.MIN_WARM_PASSES[cfg["workload"]], 2 if tracer else 1)
        i = 1
        while True:
            # A traced run alternates untraced (odd) and traced (even)
            # warm passes, so the span overhead shows as their difference.
            traced = tracer is not None and i % 2 == 0
            result["passes"].append(runner.run_pass(spark, f"p{i}", traced))
            if time.perf_counter() >= deadline and i >= min_passes:
                break
            i += 1
    finally:
        spark.stop()
    if tracer is not None:
        result["eventlog"] = eventlog_by_group(cfg["eventlog_dir"])
        result["spans"] = tracer.spans
    with open(out_path, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
