"""Span bookkeeping: self time, and the count_pass_s arithmetic over
the real ``pipeline.run_jobs`` with a stub ``run_job``."""

from __future__ import annotations

import time

import pytest

import tracing
from hive_to_es_spark import pipeline


def test_self_time_subtracts_direct_children():
    spans = [
        {"id": 0, "parent": None, "name": "a", "tag": None, "pass": "p1", "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "name": "b", "tag": None, "pass": "p1", "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 1, "name": "c", "tag": None, "pass": "p1", "start": 2.0, "end": 3.0},
        {"id": 3, "parent": 0, "name": "b", "tag": None, "pass": "p1", "start": 5.0, "end": 6.0},
        {"id": 4, "parent": None, "name": "b", "tag": None, "pass": "p2", "start": 0.0, "end": 9.0},
    ]
    assert tracing.self_times(spans) == {0: 6.0, 1: 2.0, 2: 1.0, 3: 1.0, 4: 9.0}
    assert tracing.sum_by(spans, "p1", lambda s: s["name"]) == {"a": 6.0, "b": 3.0, "c": 1.0}


class _Frame:
    def __init__(self, count_s: float, n: int):
        self.count_s, self.n = count_s, n

    def count(self) -> int:
        time.sleep(self.count_s)
        return self.n


class _Spark:
    def createDataFrame(self, rows, schema):
        return rows


@pytest.fixture()
def stub_run_job(monkeypatch):
    def run_job(spark, sf_dir, job):
        time.sleep(job.options["job_s"])
        return _Frame(job.options["count_s"], 7)

    monkeypatch.setattr(pipeline, "run_job", run_job)
    return run_job


def test_count_pass_is_run_jobs_wall_minus_run_job_wall(stub_run_job):
    jobs = [
        pipeline.Job(name="a", source_table="orders", options={"job_s": 0.05, "count_s": 0.10}),
        pipeline.Job(name="b", source_table="orders", options={"job_s": 0.02, "count_s": 0.20}),
    ]
    tracer = tracing.Tracer()
    tracer.label = "p1"
    tracer.install({"pipeline.run_job": (stub_run_job, lambda args: args[-1].name)})
    try:
        assert pipeline.run_job is not stub_run_job
        t0 = time.perf_counter()
        rows = pipeline.run_jobs(_Spark(), "unused", jobs)
        wall = time.perf_counter() - t0
    finally:
        tracer.uninstall()
    assert pipeline.run_job is stub_run_job
    assert rows == [("a", 7), ("b", 7)]
    assert [(s["name"], s["tag"]) for s in tracer.spans] == [("pipeline.run_job", "a"), ("pipeline.run_job", "b")]
    counted = tracing.count_pass_s(wall, tracer.spans, "p1")
    assert 0.30 <= counted < 0.30 + 0.05
    assert tracing.count_pass_s(wall, tracer.spans, "p2") == wall


def test_install_patches_every_module_holding_the_function():
    from hive_to_es_spark import io

    original = io.load_tables
    holders = [m for m in (io, pipeline) if getattr(m, "load_tables", None) is original]
    assert pipeline in holders  # imported by name, so patched separately
    tracer = tracing.Tracer()
    tracer.install({"io.load_tables": (original, None)})
    try:
        assert all(m.load_tables is not original for m in holders)
    finally:
        tracer.uninstall()
    assert all(m.load_tables is original for m in holders)
